package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.expressions.UnigramExpressions._

/** Distributed unigram-LM tokenizer (SentencePiece, Kudo 2018) — the
  * probabilistic sibling of [[BpeTrainer]], completing the tokenizer
  * family: BPE learns greedy merges; the unigram model learns piece
  * PROBABILITIES by EM over the segmentation lattice and encodes by
  * Viterbi. Reference scope note: the reference engine has no tokenizer
  * at all — this is a training-data-pipeline extension (builder brief),
  * built Spark-first.
  *
  * Shared-nothing shape (the BpeTrainer economy):
  *
  *   1. ONE pass collapses the corpus to word types with counts; every
  *      later step is over the (vocabulary-bounded) type set.
  *   2. Seeding: all substrings up to `maxPieceLen` of every word type,
  *      frequency-weighted (explode + partial-agg sum — the distributed
  *      stand-in for SentencePiece's suffix-array candidate harvest);
  *      top `seedSize` by (freq desc, piece asc) ∪ all single chars.
  *   3. EM: the E-step is a per-word-type forward-backward lattice DP
  *      ([[graft.functions.expressions.UnigramEStep]] — vocabulary bound
  *      as a reference object, plan O(1) in |vocab|), whose posteriors
  *      land on the 1e-9 integer grid BEFORE the frequency-weighted
  *      BIGINT aggregation — so training is bit-identical under any
  *      partition layout. The M-step renormalizes the (driver-side,
  *      vocab-bounded) gridded totals into new grid log-probs.
  *   4. Pruning: keep the top `vocabSize` pieces by final expected count
  *      (ties by piece) ∪ single chars — the fixed-size simplification
  *      of the paper's loss-ranked pruning rounds, documented divergence.
  *   5. Encode: per word TYPE Viterbi (exact integer DP on the grid),
  *      documents rebuilt by position-sorted join exactly like
  *      [[BpeTrainer.encode]].
  *
  * 100 TB story: the corpus is read once (step 1); EM shuffles carry
  * (piece_id, grid_count) longs — at most |types|·pieces-per-word rows;
  * the driver holds one O(|vocab|) count table per M-step; nothing else
  * leaves the executors.
  */
object UnigramLm {

  /** A trained model: pieces (lexicographically sorted — ids are stable
    * re-derivable ranks) with floor(1e9·ln p) grid log-probs. */
  case class Vocab(pieces: Array[String], logpGrid: Array[Long]) {
    require(pieces.length == logpGrid.length)
    def size: Int = pieces.length
  }

  private def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wcount"))

  /** floor(1e9·(ln n − ln d)) — the one log formula both the trainer and
    * the spec's local replica use. */
  private def gridLog(num: Double, den: Double): Long =
    math.floor(1e9 * (math.log(num) - math.log(den))).toLong

  private def renorm(counts: Seq[(String, Long)]): Vocab = {
    val total = counts.iterator.map(_._2).sum.toDouble
    val sorted = counts.sortBy(_._1)
    Vocab(sorted.map(_._1).toArray,
      sorted.map(c => gridLog(c._2.toDouble, total)).toArray)
  }

  /** Train a model on the corpus. Deterministic and layout-independent:
    * every aggregated quantity is an exact BIGINT on the 1e-9 grid, all
    * driver-side ordering is total (count desc, piece asc). */
  def train(df: DataFrame, textCol: String, seedSize: Int = 512,
      maxPieceLen: Int = 4, emIters: Int = 2,
      vocabSize: Int = 256): Vocab = {
    require(seedSize >= vocabSize, "seedSize must be >= vocabSize")
    val words = wordTypes(df, textCol).localCheckpoint(true)
    try {
      // ---- seed: frequency-weighted substring counts ----
      val n = length(col("w"))
      val subs = words.select(
        explode(flatten(transform(sequence(lit(1), n), i =>
          transform(sequence(lit(1), least(lit(maxPieceLen), n - i + 1)),
            l => col("w").substr(i, l))))).as("piece"),
        col("wcount"))
        .groupBy("piece").agg(sum(col("wcount")).as("freq"))
        .localCheckpoint(true)
      val top = subs.orderBy(desc("freq"), col("piece")).limit(seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val chars = subs.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      subs.unpersist()
      val seed = (top ++ chars.filterNot(c => top.exists(_._1 == c._1)))
      var vocab = renorm(seed.toSeq)
      var counts: Map[String, Long] = seed.toMap

      // ---- EM iterations ----
      for (_ <- 0 until emIters) {
        val est = eStepTotals(words, vocab)
        // chars always survive (coverage); dead non-char pieces drop
        counts = vocab.pieces.indices.flatMap { id =>
          val p = vocab.pieces(id)
          val c = est.getOrElse(id, 0L)
          if (c > 0) Some(p -> c)
          else if (p.length == 1) Some(p -> 1L)
          else None
        }.toMap
        vocab = renorm(counts.toSeq)
      }

      // ---- prune to vocabSize by final expected count ----
      val ranked = counts.toSeq.sortBy { case (p, c) => (-c, p) }
      val kept = ranked.take(vocabSize).map(_._1).toSet ++
        counts.keysIterator.filter(_.length == 1)
      renorm(counts.toSeq.filter(c => kept(c._1)))
    } finally words.unpersist()
  }

  /** One distributed E-step: Σ_types wcount · gridded-posterior, per
    * piece id. Exact BIGINT sums — order-independent. */
  private def eStepTotals(words: DataFrame, vocab: Vocab): Map[Int, Long] =
    words
      .select(explode(unigram_estep(col("w"), vocab.pieces, vocab.logpGrid))
        .as("e"), col("wcount"))
      .select(col("e.piece_id").as("pid"),
        (col("e.grid") * col("wcount")).as("g"))
      .groupBy("pid").agg(sum(col("g")).as("total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  // one model per (corpus key, params): train once, encode/score many.
  // Models are O(vocabSize) strings.

  def trainCached(df: DataFrame, textCol: String, seedSize: Int,
      maxPieceLen: Int, emIters: Int, vocabSize: Int,
      cacheKey: String): Vocab =
    Memo.shared.once(Some(cacheKey),
        s"unigram-vocab/$seedSize/$maxPieceLen/$emIters/$vocabSize") {
      train(df, textCol, seedSize, maxPieceLen, emIters, vocabSize)
    }

  /** The trained vocabulary as a DataFrame (rank, piece, logp_grid) —
    * the `queries` surface. Trains END-TO-END per call (the
    * bpe_train_merges convention: a training query times training;
    * [[encode]] callers reuse [[trainCached]] instead). Rank orders by
    * probability desc, piece asc. */
  def vocabDf(df: DataFrame, textCol: String, seedSize: Int,
      maxPieceLen: Int, emIters: Int, vocabSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = train(df, textCol, seedSize, maxPieceLen, emIters, vocabSize)
    v.pieces.zip(v.logpGrid).sortBy { case (p, g) => (-g, p) }
      .zipWithIndex
      .map { case ((p, g), r) => (r, p, g) }.toSeq
      .toDF("rank", "piece", "logp_grid")
  }

  /** Viterbi-encode documents with a trained model. The DP runs once per
    * word TYPE; documents rebuild by position-sorted join (the
    * BpeTrainer.encode shape — vocab-bounded lattice work, one (id, pos,
    * word) row per corpus token through the shuffle, no UDF). Token-less
    * docs keep an empty `pieces` array. */
  def encode(df: DataFrame, idCol: String, textCol: String,
      vocab: Vocab): DataFrame = {
    val toks = df
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val encVocab = toks.select("w").distinct()
      .select(col("w"),
        unigram_viterbi(col("w"), vocab.pieces, vocab.logpGrid).as("enc"))
    val agg = toks.join(encVocab, "w")
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("enc")))),
        x => x.getField("enc"))).as("pieces"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("pieces"), array().cast("array<string>")).as("pieces"))
  }
}

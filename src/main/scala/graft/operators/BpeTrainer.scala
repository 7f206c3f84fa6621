package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Distributed BPE tokenizer TRAINING — the step `TextFunctions.bpeTokens`
  * (a fixed regex pre-tokenizer) deliberately skips: learn the merge
  * table itself from the corpus, the way a real training-data pipeline
  * derives its tokenizer vocabulary.
  *
  * Classic algorithm (Sennrich et al. 2016), shared-nothing form:
  *
  *   1. collapse the corpus to WORD TYPES with counts — all further work
  *      is over the (tiny) type vocabulary, weighted by frequency, never
  *      the corpus again;
  *   2. per iteration: count adjacent symbol pairs (explode + partial-
  *      aggregated groupBy-sum), pick the most frequent (deterministic
  *      tie-break: count desc, then pair lexicographic), broadcast it,
  *      and re-segment every word type with ONE fold expression.
  *
  * Everything is Column algebra — the greedy left-to-right merge apply is
  * an `aggregate()` fold carrying (output-so-far, pending symbol), not a
  * UDF — so each iteration is one codegen'd job over |vocab| rows. The
  * driver holds only the k merge pairs (bounded), and the per-iteration
  * shuffle carries pair keys (~bytes), which is why this scales to a
  * 100 TB corpus: step 1 is the only pass over the data, and |vocab|
  * grows with unique words, not corpus bytes.
  */
object BpeTrainer {

  /** Greedy left-to-right application of ONE merge (l, r) to a symbol
    * array, as a fold: state = (merged output, pending previous symbol).
    * "aaa" under merge (a,a) → ["aa", "a"] — the standard BPE greedy.
    *
    * The trailing-symbol flush runs inside aggregate()'s FINISH lambda
    * (where the accumulator is a leaf lambda variable), not as a
    * when/otherwise over the aggregate result: the result expression is
    * referenced exactly ONCE, so [[encode]]'s fold of k merges builds a
    * k-deep chain, not the 4^k duplicated tree the flush-outside form
    * produces (measured: 8 merges = StackOverflow in analysis). */
  private[graft] def applyMerge(syms: Column, l: String,
      r: String): Column = {
    val emptyOut = array().cast("array<string>")
    val init = struct(emptyOut.as("out"), lit(null).cast("string").as("prev"))
    aggregate(
      syms, init,
      (acc, s) => {
        val out = acc.getField("out")
        val prev = acc.getField("prev")
        when(prev.isNull, struct(out.as("out"), s.as("prev")))
          .when(prev === lit(l) && s === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit(null).cast("string").as("prev")))
          .otherwise(struct(concat(out, array(prev)).as("out"), s.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(acc.getField("prev")))))
  }

  /** Word types with counts, each segmented into initial single-character
    * symbols (the BPE base vocabulary). */
  private def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wcount"))
      .select(split(col("w"), "").as("syms"), col("wcount"))

  /** Learn `numMerges` merges from the corpus. Returns (rank, left,
    * right, pair_count) — the merge table, most frequent first. Stops
    * early if no adjacent pair remains. */
  def train(df: DataFrame, textCol: String, numMerges: Int): Seq[(Int, String, String, Long)] = {
    require(numMerges > 0, "numMerges must be > 0")
    var words = wordTypes(df, textCol).localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val n = size(col("syms"))
      val best = words
        .filter(n >= 2)
        .select(explode(zip_with(
          slice(col("syms"), lit(1), n - 1),
          slice(col("syms"), lit(2), n - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("wcount"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, cnt))
        val next = words
          .select(applyMerge(col("syms"), l, r).as("syms"), col("wcount"))
          .localCheckpoint(true) // k iterations: fence the growing lineage
        words.unpersist()
        words = next
        rank += 1
      }
    }
    words.unpersist()
    merges.result()
  }

  /** The learned merge table as a DataFrame (rank, left, right,
    * pair_count) — the `queries` surface for the trainer. */
  def merges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, numMerges).toDF("rank", "left", "right", "pair_count")
  }

  // one trained table per (corpus key, numMerges): train once, encode
  // many. Merge tables are tiny (numMerges rows), so the memo never
  // matters for memory.

  def trainCached(df: DataFrame, textCol: String, numMerges: Int,
      cacheKey: String): Seq[(Int, String, String, Long)] =
    Memo.shared.once(Some(cacheKey), s"bpe-merges/$numMerges") {
      train(df, textCol, numMerges)
    }

  /** ENCODE with a learned merge table — the other half of the tokenizer
    * pair. Scalable form: the merge folds run once per word TYPE (the
    * same vocab-bounded economy as training), never per corpus token;
    * documents are rebuilt by joining the encoded vocabulary back to
    * token positions and flattening in position order. The join key is a
    * word type, so the shuffle carries the (small) vocabulary plus one
    * (id, pos, word) row per corpus token — map-side combine free, no
    * driver loop, no UDF anywhere.
    *
    * Greedy semantics match training exactly: merges apply in rank order,
    * each as one left-to-right [[applyMerge]] fold. Deterministic by
    * construction — the fold is order-fixed and the position sort is a
    * total order — so the output is layout-independent (the pinned-oracle
    * precondition). */
  def encode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val toks = df
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val encodeWord = merges.foldLeft(split(col("w"), ""): Column) {
      case (acc, (_, l, r, _)) => applyMerge(acc, l, r)
    }
    val encVocab = toks.select("w").distinct()
      .select(col("w"), encodeWord.as("enc"))
    val agg = toks.join(encVocab, "w")
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("enc")))),
        x => x.getField("enc"))).as("bpe"))
    // left join from the full id set: a token-less document (null/empty
    // text) keeps its row with an EMPTY bpe array instead of vanishing —
    // the hashedTfIdf zero-vector convention, so callers joining back on
    // id never lose rows
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bpe"), array().cast("array<string>")).as("bpe"))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Memo
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.Png

/** Multimodal-column queries on the correctness gate.
  *
  * image_neardup has a REAL oracle despite the pixels: the fixture images
  * are [[Png.groupedPattern]] families — uniform-gray cells whose
  * luminance is an md5 byte of the (group, cell) coordinates, cell
  * boundaries exact multiples of the dHash 9×8 grid, PNG lossless — so
  * each image's 64-bit perceptual hash is a CLOSED FORM of (group,
  * variant) that DuckDB reconstructs from the same md5 hex nibbles and
  * brute-forces per-bit over all pairs (the dedup_simhash_pairs oracle
  * pattern). The Spark side still runs the FULL image path — encode →
  * binary column → decode → box-filter → dHash → banded hamming — so
  * equality proves the pixel kernel, the hash, and the banding machinery
  * end-to-end.
  */
object MultimodalOps {

  type Q = (SparkSession, String) => DataFrame

  /** Shared modality → features → exact-cosine-top-k bridge: one feature
    * vector per documents row (grouped synthetic media family), feature
    * table memoized per (dir, modality) — the probe, not the decode, is
    * the per-call cost. The feature vectors are the INDEX — extracted
    * once at ingest in a real deployment — so probe calls must not
    * re-synthesize/re-decode every clip. MEMORY_AND_DISK: at scale the
    * feature table is the artifact that must not be recomputed per
    * query batch. A `once` entry, not a guarded one: the `Dataset.map`
    * closure hashes differently on every call. */
  private def modalityKnn(s: SparkSession, dir: String, sub: String,
      extract: Long => Seq[Float]): DataFrame = {
    import s.implicits._
    val feats = Memo.shared.once(Some(dir), s"media-feats/$sub") {
      Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, extract(id)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val q = feats.filter(col("vec_id") < 8)
    graft.operators.Similarity.bruteForceTopK(feats, q, "vec_id",
      "embedding", 4)
      .select("query_id", "rank", "corpus_id")
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, Q] = Map(
    // Perceptual image near-dedup (the multimodal twin of
    // dedup_simhash_pairs): one PNG per documents row — group doc_id/4,
    // variant doc_id%4, so each group is a base image plus three
    // progressively-edited variants (nested cell inversions ≈ watermark /
    // small-edit re-encodes) — dHash64 over real decoded pixels, banded
    // hamming pairs at ≤ 3 bits.
    "image_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Png.encode(Png.groupedPattern(id / 4, (id % 4).toInt))))
        .toDF("doc_id", "png")
      Multimodal.imageNearDupPairs(media, "doc_id", "png", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Acoustic near-dedup (r9, the audio twin): one PCM16 WAV per
    // documents row — group doc_id/4, variant doc_id%4 re-levels
    // md5-chosen blocks (re-mastered / re-levelled variants of the same
    // clip) — eHash64 over real decoded samples, banded hamming ≤ 3.
    // The full audio path runs: encode → binary column → WAV decode →
    // block energy means → hash → banding.
    "audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.Wav.groupedBlocks(id / 4, (id % 4).toInt)))
        .toDF("doc_id", "wav")
      Multimodal.audioNearDupPairs(media, "doc_id", "wav", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Temporal (video) near-dedup (r9, completing the modality triple):
    // one real animated GIF per documents row — group doc_id/4, variant
    // doc_id%4 re-grades md5-chosen frames — tHash64 over real decoded
    // frames, banded hamming ≤ 3. The full video path runs: GIF89a
    // encode → binary column → frame decode → luminance sums → hash →
    // banding.
    "video_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.Gif.groupedFrames(id / 4, (id % 4).toInt)))
        .toDF("doc_id", "gif")
      Multimodal.videoNearDupPairs(media, "doc_id", "gif", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Audio similarity search (r10): the modality → features → ANN
    // bridge (the tfidf_knn analogue for audio) — REAL per-clip RMS
    // energy envelopes (16 slices from decoded PCM16) as the embedding,
    // exact cosine top-k over them. Same-group re-levelled variants
    // surface as nearest neighbors. Deterministic end-to-end → pinned.
    "audio_knn" -> ((s, dir) =>
      modalityKnn(s, dir, "audio16", id => Multimodal.Wav.features(
        Multimodal.Wav.groupedBlocks(id / 4, (id % 4).toInt), 16).toSeq)),

    // the image and video bridges (r10) — the same families the
    // neardup triple dedups: luminance histograms / per-frame traces
    // as embeddings, same-group variants as nearest neighbors
    "image_knn" -> ((s, dir) =>
      modalityKnn(s, dir, "image16", id => Multimodal.Png.features(
        Multimodal.Png.encode(
          Multimodal.Png.groupedPattern(id / 4, (id % 4).toInt)), 16)
        .toSeq)),

    "video_knn" -> ((s, dir) =>
      modalityKnn(s, dir, "video16", id => Multimodal.Gif.features(
        Multimodal.Gif.groupedFrames(id / 4, (id % 4).toInt), 16).toSeq)),

    // Container-metadata probes on the gate (r11): one REAL container
    // per documents row — even ids a full ISO-BMFF mp4 (ftyp/moov/mvhd/
    // two traks with tkhd+hdlr+stts; the audio trak's stts must NOT
    // count), odd ids an EBML webm (header DocType, Segment→Info
    // timestamp-scale+duration, Tracks→Video dims; every 4th id the
    // unknown-size streamed-Segment form). Every probed field is a
    // closed form of doc_id (ContainerSynth.forDoc), so the DuckDB
    // oracle replicates the full walk with integer arithmetic while the
    // Spark side parses the actual bytes.
    "container_probe" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val m = graft.multimodal.Containers
            .probe(graft.multimodal.ContainerSynth.forDoc(id)).get
          (id, m.container, m.brandOrDocType, m.durationMs,
            m.width, m.height, m.nSamples, m.trackTypes.mkString(","))
        }
        .toDF("doc_id", "container", "brand", "duration_ms",
          "width", "height", "n_samples", "tracks")
        .orderBy("doc_id")
    }),

    // Spectral audio features (r10): REAL DSP through the full path —
    // WAV decode → Hann window → radix-2 FFT (4096-point) → power
    // spectrum → centroid + 8 band-energy fractions per clip, each
    // floored to an integer grid BEFORE the exact per-variant BIGINT
    // sums (the embed_label_stats argument: grid-then-sum is
    // order-independent). FFT butterflies are fixed-order doubles —
    // bit-identical on any executor → pinnable 4-row summary.
    "audio_spectral" -> ((s, dir) => {
      import s.implicits._
      // fanned read: the per-row WAV synth + FFT is the cost — 2.2 s on
      // one core vs ~0.5 s fanned (Tables.fannedTable's contract)
      val rows = Tables.fannedTable(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val wav = Multimodal.Wav.groupedBlocks(id / 4, (id % 4).toInt)
          val (c, fr) = Multimodal.Wav.spectral(wav, 8)
          (id % 4, math.floor(c * 1e6).toLong,
            fr.map(f => math.floor(f * 1e9).toLong).toSeq)
        }
        .toDF("variant", "c_e6", "b_e9")
      val bandSums = (0 until 8).map(i =>
        sum(element_at(col("b_e9"), i + 1)).as(s"b${i}_sum_e9"))
      rows.groupBy("variant")
        .agg(count(lit(1)).as("n"),
          (sum(col("c_e6")).as("centroid_sum_e6") +: bandSums): _*)
        .orderBy("variant")
    }))

  val oracle: Map[String, String] = Map(
    // REAL closed-form oracle: every container field is doc_id
    // arithmetic by construction (mp4 mvhd duration 600+30k ticks at
    // timescale 600 → 1000+50k ms exactly; webm ticks at the 1 ms
    // default scale) — the Spark side must recover it from real bytes
    "container_probe" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS container,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'webm' END AS brand,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 + (doc_id % 100) * 50
        |            ELSE 2000 + (doc_id % 50) * 20 END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 320 + (doc_id % 8) * 16
        |            ELSE 640 + (doc_id % 16) * 8 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 180 + (doc_id % 8) * 9
        |            ELSE 360 + (doc_id % 16) * 4 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 30 + doc_id % 10
        |            ELSE 0 END AS BIGINT) AS n_samples,
        |  CASE WHEN doc_id % 2 = 0 THEN 'vide,soun' ELSE 'vide' END
        |    AS tracks
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Closed-form dHash reconstruction: cell luminance = first md5 byte
    // of 'g:cx:cy' (two leading hex nibbles), variant v inverts the
    // DISTINCT cells md5('g:flip:j') % 72 for j < v, and bit (cx, cy) =
    // [lum(cx) > lum(cx+1)] — uniform 8×8-px cells make the dHash box
    // means exact, so the per-bit brute force over all pairs equals the
    // Spark pipeline's decode→hash→band output bit-for-bit.
    "image_neardup" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
        |), cells AS (
        |  SELECT r1.range AS cx, r2.range AS cy
        |  FROM range(0, 9) r1 CROSS JOIN range(0, 8) r2
        |), flips AS (
        |  SELECT DISTINCT i.doc_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(concat(i.g, ':flip:', f.range)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(concat(i.g, ':flip:', f.range)), 2, 1)) - 1)) % 72
        |      AS cell
        |  FROM img i JOIN range(0, 3) f ON f.range < i.v
        |), lum AS (
        |  SELECT i.doc_id, c.cx, c.cy,
        |    CASE WHEN fl.cell IS NOT NULL THEN
        |      255 - ((strpos('0123456789abcdef',
        |          substr(md5(concat(i.g, ':', c.cx, ':', c.cy)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(i.g, ':', c.cx, ':', c.cy)), 2, 1)) - 1))
        |    ELSE
        |      ((strpos('0123456789abcdef',
        |          substr(md5(concat(i.g, ':', c.cx, ':', c.cy)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(i.g, ':', c.cx, ':', c.cy)), 2, 1)) - 1))
        |    END AS l
        |  FROM img i CROSS JOIN cells c
        |  LEFT JOIN flips fl
        |    ON fl.doc_id = i.doc_id AND fl.cell = c.cy * 9 + c.cx
        |), bits AS (
        |  SELECT a.doc_id, a.cy * 8 + a.cx AS b,
        |    CASE WHEN a.l > n.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum n
        |    ON n.doc_id = a.doc_id AND n.cy = a.cy AND n.cx = a.cx + 1
        |  WHERE a.cx < 8
        |)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  CAST(SUM(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS INTEGER)
        |    AS hamming
        |FROM bits a JOIN bits b2 ON a.b = b2.b AND a.doc_id < b2.doc_id
        |GROUP BY 1, 2
        |HAVING SUM(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Closed-form eHash reconstruction: block amplitude = first md5 byte
    // of 'g:blk:j' (two leading hex nibbles), variant v re-levels the
    // DISTINCT blocks md5('g:aflip:k') % 65 for k < v, and bit j =
    // [amp(j) > amp(j+1)] — constant-amplitude blocks make the decoded
    // mean |sample| exactly amp·128, so the amplitude compare equals the
    // Spark pipeline's decode→energy→hash→band output bit-for-bit.
    "audio_neardup" ->
      """WITH au AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
        |), blk AS (
        |  SELECT range AS j FROM range(0, 65)
        |), flips AS (
        |  SELECT DISTINCT a.doc_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(concat(a.g, ':aflip:', f.range)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(concat(a.g, ':aflip:', f.range)), 2, 1)) - 1)) % 65
        |      AS blkid
        |  FROM au a JOIN range(0, 3) f ON f.range < a.v
        |), amp AS (
        |  SELECT a.doc_id, b.j,
        |    CASE WHEN fl.blkid IS NOT NULL THEN
        |      255 - ((strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':blk:', b.j)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':blk:', b.j)), 2, 1)) - 1))
        |    ELSE
        |      ((strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':blk:', b.j)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':blk:', b.j)), 2, 1)) - 1))
        |    END AS a
        |  FROM au a CROSS JOIN blk b
        |  LEFT JOIN flips fl ON fl.doc_id = a.doc_id AND fl.blkid = b.j
        |), bits AS (
        |  SELECT x.doc_id, x.j AS b,
        |    CASE WHEN x.a > n.a THEN 1 ELSE 0 END AS bit
        |  FROM amp x JOIN amp n
        |    ON n.doc_id = x.doc_id AND n.j = x.j + 1
        |  WHERE x.j < 64
        |)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INTEGER)
        |    AS hamming
        |FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Closed-form tHash reconstruction: frame luminance = first md5 byte
    // of 'g:frm:j', variant v re-grades the DISTINCT frames
    // md5('g:vflip:k') % 65 for k < v, bit j = [lum(j) > lum(j+1)] —
    // uniform frames through the lossless gray-palette GIF codec make
    // the decoded per-frame mean exactly the md5 byte.
    // audio_knn — pinned sf0.01 rows; each query's top-3 are exactly its
    // same-group re-levelled variants (ids 0-3 = group 0, 4-7 = group 1),
    // which is the bridge working. Regenerate via
    // SPARK_GRAFT_VERIFY_ONLY=audio_knn.
    "audio_knn" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS BIGINT)),
        |  (0, 2, 2), (0, 3, 3), (0, 4, 401),
        |  (1, 1, 2), (1, 2, 0), (1, 3, 3), (1, 4, 401),
        |  (2, 1, 1), (2, 2, 0), (2, 3, 3), (2, 4, 401),
        |  (3, 1, 1), (3, 2, 2), (3, 3, 0), (3, 4, 190),
        |  (4, 1, 5), (4, 2, 6), (4, 3, 7), (4, 4, 393),
        |  (5, 1, 4), (5, 2, 6), (5, 3, 7), (5, 4, 351),
        |  (6, 1, 7), (6, 2, 5), (6, 3, 4), (6, 4, 351),
        |  (7, 1, 6), (7, 2, 5), (7, 3, 4), (7, 4, 351))
        |AS t(query_id, rank, corpus_id)
        |ORDER BY query_id, rank""".stripMargin,
    // image_knn / video_knn — pinned sf0.01 rows, same argument and
    // same visible property as audio_knn: each query's top-3 are its
    // own group's variants. Regenerate via
    // SPARK_GRAFT_VERIFY_ONLY=image_knn,video_knn.
    "image_knn" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS BIGINT)),
        |  (0, 2, 2), (0, 3, 3), (0, 4, 234),
        |  (1, 1, 0), (1, 2, 2), (1, 3, 3), (1, 4, 80),
        |  (2, 1, 1), (2, 2, 3), (2, 3, 0), (2, 4, 234),
        |  (3, 1, 2), (3, 2, 1), (3, 3, 0), (3, 4, 234),
        |  (4, 1, 5), (4, 2, 6), (4, 3, 7), (4, 4, 236),
        |  (5, 1, 6), (5, 2, 4), (5, 3, 7), (5, 4, 221),
        |  (6, 1, 7), (6, 2, 5), (6, 3, 4), (6, 4, 14),
        |  (7, 1, 6), (7, 2, 5), (7, 3, 4), (7, 4, 221))
        |AS t(query_id, rank, corpus_id)
        |ORDER BY query_id, rank""".stripMargin,
    "video_knn" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS BIGINT)),
        |  (0, 2, 2), (0, 3, 3), (0, 4, 31),
        |  (1, 1, 2), (1, 2, 0), (1, 3, 3), (1, 4, 67),
        |  (2, 1, 3), (2, 2, 1), (2, 3, 0), (2, 4, 162),
        |  (3, 1, 2), (3, 2, 1), (3, 3, 0), (3, 4, 67),
        |  (4, 1, 5), (4, 2, 6), (4, 3, 7), (4, 4, 116),
        |  (5, 1, 6), (5, 2, 4), (5, 3, 7), (5, 4, 167),
        |  (6, 1, 5), (6, 2, 7), (6, 3, 4), (6, 4, 167),
        |  (7, 1, 6), (7, 2, 5), (7, 3, 4), (7, 4, 167))
        |AS t(query_id, rank, corpus_id)
        |ORDER BY query_id, rank""".stripMargin,
    // audio_spectral — pinned sf0.01 per-variant sums (FFT butterflies
    // are fixed-order doubles, grid-then-sum is order-independent; see
    // the query comment). Regenerate via
    // SPARK_GRAFT_VERIFY_ONLY=audio_spectral.
    "audio_spectral" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(125 AS BIGINT), CAST(10359807846 AS BIGINT),
        |   CAST(123455823505 AS BIGINT), CAST(800935695 AS BIGINT),
        |   CAST(282297144 AS BIGINT), CAST(152904955 AS BIGINT),
        |   CAST(102199965 AS BIGINT), CAST(78231934 AS BIGINT),
        |   CAST(66326620 AS BIGINT), CAST(61279686 AS BIGINT)),
        |  (1, 125, 10414928128, 123446103663, 805967966, 284076496,
        |   153869422, 102844781, 78725588, 66745183, 61666406),
        |  (2, 125, 10379984337, 123452640777, 802589234, 282878274,
        |   153219523, 102410161, 78392814, 66463020, 61405704),
        |  (3, 125, 10409907160, 123448414903, 804785033, 283649789,
        |   153637113, 102689206, 78606393, 66644082, 61572987))
        |AS t(variant, n, centroid_sum_e6, b0_sum_e9, b1_sum_e9, b2_sum_e9,
        |     b3_sum_e9, b4_sum_e9, b5_sum_e9, b6_sum_e9, b7_sum_e9)
        |ORDER BY variant""".stripMargin,
    "video_neardup" ->
      """WITH vid AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
        |), frm AS (
        |  SELECT range AS j FROM range(0, 65)
        |), flips AS (
        |  SELECT DISTINCT a.doc_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(concat(a.g, ':vflip:', f.range)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(concat(a.g, ':vflip:', f.range)), 2, 1)) - 1)) % 65
        |      AS frmid
        |  FROM vid a JOIN range(0, 3) f ON f.range < a.v
        |), lum AS (
        |  SELECT a.doc_id, b.j,
        |    CASE WHEN fl.frmid IS NOT NULL THEN
        |      255 - ((strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':frm:', b.j)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':frm:', b.j)), 2, 1)) - 1))
        |    ELSE
        |      ((strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':frm:', b.j)), 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef',
        |          substr(md5(concat(a.g, ':frm:', b.j)), 2, 1)) - 1))
        |    END AS lv
        |  FROM vid a CROSS JOIN frm b
        |  LEFT JOIN flips fl ON fl.doc_id = a.doc_id AND fl.frmid = b.j
        |), bits AS (
        |  SELECT x.doc_id, x.j AS b,
        |    CASE WHEN x.lv > n.lv THEN 1 ELSE 0 END AS bit
        |  FROM lum x JOIN lum n
        |    ON n.doc_id = x.doc_id AND n.j = x.j + 1
        |  WHERE x.j < 64
        |)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INTEGER)
        |    AS hamming
        |FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin)
}

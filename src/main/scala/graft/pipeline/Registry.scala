package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.functions.Transforms
import graft.sources.Connectors
import graft.sources.ChangeLog.LogSource
import graft.sources.Connectors.{Sink, Source}

/** Name-based registries mirroring the reference's adaptor registry
  * (`adaptor/adaptor.go` Add/GetAdaptor) and function registry
  * (`function/registry.go:20-44`): transforms and connectors are looked up
  * by name and configured from a parameter map, enabling fully
  * config-driven pipelines (ConfigLoader).
  *
  * Network-store adaptors: postgres/mysql/jdbc are LIVE (sources.Jdbc,
  * embedded Derby offline, any JDBC URL deployed); elasticsearch is LIVE
  * (sinks.EsBulkSink, real _bulk NDJSON over HTTP); mongodb is LIVE over
  * extended-JSON collection dirs (sources.dsv2.MongoDocsV2 — system.*
  * exclusion, collection_filters pushdown, resumable _id cursor);
  * rabbitmq is LIVE over a dir-of-queues (sources.Queue — pure-Sync
  * consumer, ack=checkpoint, ns+routing-key publisher); rethinkdb is
  * LIVE over a dir-of-tables (sources.Rethink — TableList snapshot,
  * old_val/new_val changefeed, Conflict:replace writer). Every adaptor
  * name in the reference registry now resolves to a working
  * implementation; the wire formats without live servers are modeled by
  * their on-disk/file-stream equivalents, loudly documented per source.
  *
  * JSON-lines has one reader, `file` (`Connectors.JsonLinesSource`,
  * Spark's JSON scan): pushed filters and pruned columns reach its
  * `FileSourceScanExec` (Dsv2Spec asserts them on the scan node).
  * `describe` carries exactly one entry per source and sink name.
  */
object Registry {

  type Params = Map[String, Any]

  private def str(p: Params, k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(
      s"missing required parameter '$k'")).toString
  private def strSeq(p: Params, k: String): Seq[String] =
    p.getOrElse(k, throw new IllegalArgumentException(
      s"missing required parameter '$k'")) match {
      case s: Seq[_] => s.map(_.toString)
      case other => throw new IllegalArgumentException(s"$k: want list, got $other")
    }
  private def strMap(p: Params, k: String): Map[String, String] =
    p.getOrElse(k, throw new IllegalArgumentException(
      s"missing required parameter '$k'")) match {
      case m: Map[_, _] => m.map { case (a, b) => a.toString -> b.toString }
      case other => throw new IllegalArgumentException(s"$k: want map, got $other")
    }

  /** Every resolved absolute link of a crawl batch: one row per href,
    * keyed by `srcKey` (page id for [[transforms link_rank]], source
    * domain for `domain_rank`) — the shared extraction leg of the two
    * rank transforms. */
  private def resolvedLinks(df: DataFrame, srcKey:
      org.apache.spark.sql.Column, ucol: String, hcol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    df.select(srcKey.as("__skey"), col(ucol).as("__base"),
        explode(graft.functions.Html.hrefs(col(hcol))).as("__href"))
      .select(col("__skey"), graft.functions.Urls.normalize(
        graft.functions.Urls.resolve(col("__base"), col("__href")))
        .as("__abs"))
  }

  /** Transform registry — names follow the reference functions. */
  val transforms: Map[String, Params => DataFrame => DataFrame] = Map(
    "pick" -> (p => Transforms.pick(strSeq(p, "fields"))),
    "omit" -> (p => Transforms.omit(strSeq(p, "fields"))),
    "rename" -> (p => Transforms.rename(strMap(p, "field_map"))),
    "remap" -> (p => Transforms.remap(strMap(p, "ns_map"))),
    "skip" -> (p => Transforms.skip(str(p, "field"), str(p, "operator"),
      p.getOrElse("match", throw new IllegalArgumentException(
        "missing required parameter 'match'")))),
    "opfilter" -> (p => Transforms.opFilter(
      p.get("whitelist").map(_ => strSeq(p, "whitelist")).getOrElse(Nil),
      p.get("blacklist").map(_ => strSeq(p, "blacklist")).getOrElse(Nil))),
    "pretty" -> (p => Transforms.pretty(
      p.get("n").map(_.toString.toDouble.toInt).getOrElse(5))),
    // schema-on-read for CDC envelopes: mejson `data` → typed columns
    // (DDL schema), so a tailer source can feed a typed sink (e.g. the
    // incremental index family) from one declarative chain
    "decode" -> (p => Transforms.decode(
      org.apache.spark.sql.types.StructType.fromDDL(str(p, "schema")),
      p.getOrElse("data_col", "data").toString)),
    // ---- curation gates as declarative transforms (beyond the
    // reference): the document-quality filter family drops in anywhere
    // in a transform chain, so ANY source feeds a curated sink — run
    // `decode` first on envelope-shaped CDC sources. Both are the exact
    // integer-threshold operators the gate queries oracle-check.
    // crawl-metadata gates (r11): domain blocklist + URL-keyed exact
    // dedup on the canonical form — the cheapest filters in the chain,
    // so they run before any content heuristic
    "url_filter" -> (p => df => {
      val ucol = org.apache.spark.sql.functions.col(
        p.getOrElse("url_col", "url").toString)
      val blocklist = p.get("blocklist").map {
        case s: Seq[_] => s.map(_.toString)
        case one => Seq(one.toString)
      }.getOrElse(Nil)
      val unblocked =
        if (blocklist.isEmpty) df
        else df.filter(!graft.functions.Urls.blocked(ucol, blocklist))
      if (p.get("dedup").exists(_.toString.toBoolean))
        graft.operators.Dedup.exactKept(
          unblocked.withColumn("__url_norm",
            graft.functions.Urls.normalize(ucol)),
          p.getOrElse("id_col", "doc_id").toString, "__url_norm")
          .drop("__url_norm")
      else unblocked
    }),
    // cross-document paragraph dedup as a declarative transform: the
    // text column is rewritten to its surviving paragraphs
    "paragraph_dedup" -> (p => df => {
      val idc = p.getOrElse("id_col", "doc_id").toString
      val tcol = p.getOrElse("text_col", "text").toString
      val cleaned = graft.operators.SpanDedup.removeDupParagraphs(
        df, idc, tcol)
        .select(org.apache.spark.sql.functions.col(idc),
          org.apache.spark.sql.functions.col("text_clean"))
      df.drop(tcol).join(cleaned, Seq(idc))
        .withColumnRenamed("text_clean", tcol)
    }),
    // raw-web→text: replace/append an extracted main-text column from a
    // markup column (jusText-shape block scoring — functions.Html), so a
    // crawl source chains straight into the quality gates below
    "html_extract" -> (p => df => {
      val hcol = p.getOrElse("html_col", "html").toString
      val out = p.getOrElse("text_col", "text").toString
      df.withColumn(out, graft.functions.Html.mainText(
        org.apache.spark.sql.functions.col(hcol),
        minChars = p.getOrElse("min_chars", 20).toString.toDouble.toInt))
    }),
    // link-graph quality annotation: recover the intra-corpus hyperlink
    // graph from the crawl records themselves (href extraction → URL
    // resolution → canonical join against the batch's own URLs) and
    // attach each page's fixed-point PageRank as `rank_fp` — the
    // cross-site signal the per-document gates (gopher/repetition/
    // c4) cannot see. Downstream config stages filter or weight on it.
    "link_rank" -> (p => df => {
      import org.apache.spark.sql.functions.{col, explode}
      val idc = p.getOrElse("id_col", "doc_id").toString
      val ucol = p.getOrElse("url_col", "url").toString
      val hcol = p.getOrElse("html_col", "html").toString
      val iters = p.getOrElse("iters", 5).toString.toDouble.toInt
      val urlmap = df.select(
        graft.functions.Urls.normalize(col(ucol)).as("__u"),
        col(idc).as("__dst"))
      val edges = resolvedLinks(df, col(idc), ucol, hcol)
        .join(urlmap, col("__abs") === col("__u"))
        .select(col("__skey").as("src"), col("__dst").as("dst"))
      // The edge lineage embeds the full href-extraction pass over every
      // page's HTML; unpersisted, each of the `iters` rank rounds would
      // re-parse the whole batch (no cacheKey here — a config transform
      // sees arbitrary per-batch data, so a session-lifetime memo key
      // would be a stale-artifact footgun; see Memo's key contract).
      // Persist for the duration, cut the result's lineage with an eager
      // localCheckpoint (bounded: one row per id), then release.
      val cached = edges.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ranks = graft.operators.Graphs.pageRank(
        cached, "src", "dst", df.select(col(idc)), idc, iters = iters)
        .localCheckpoint(eager = true)
      cached.unpersist(blocking = false)
      // pageRank defines a rank for every node id, so this never drops
      df.join(ranks, Seq(idc))
    }),
    // site-level rank annotation: the recovered page graph collapsed to
    // registered-domain pairs (multiplicity kept), PageRank on the host
    // graph, each row annotated with its SITE's `domain_rank_fp` — the
    // signal that demotes every page of a link farm at once, which
    // per-page rank (`link_rank`) cannot. Strictly smaller graph than
    // the page rank's, same recurrence.
    "domain_rank" -> (p => df => {
      import org.apache.spark.sql.functions.{col, explode}
      val idc = p.getOrElse("id_col", "doc_id").toString
      val ucol = p.getOrElse("url_col", "url").toString
      val hcol = p.getOrElse("html_col", "html").toString
      val iters = p.getOrElse("iters", 5).toString.toDouble.toInt
      val urlmap = df.select(
        graft.functions.Urls.normalize(col(ucol)).as("__u"),
        graft.functions.Urls.registeredDomain(col(ucol)).as("__ddom"))
      val edges = resolvedLinks(df,
          graft.functions.Urls.registeredDomain(col(ucol)), ucol, hcol)
        .join(urlmap, col("__abs") === col("__u"))
        .select(col("__skey").as("src"), col("__ddom").as("dst"))
        // collapse to the weighted host multigraph before iterating
        .groupBy("src", "dst")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__w"))
      val nodes = df.select(
        graft.functions.Urls.registeredDomain(col(ucol)).as("__dom"))
        .distinct()
      // same lineage treatment as link_rank: the edge table embeds the
      // full parse; persist for the iterations, checkpoint the bounded
      // per-domain result, release
      val cached = edges.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ranks = graft.operators.Graphs.pageRank(
        cached, "src", "dst", nodes, "__dom", iters = iters,
        weightCol = Some("__w"))
        .withColumnRenamed("rank_fp", "domain_rank_fp")
        .localCheckpoint(eager = true)
      cached.unpersist(blocking = false)
      df.withColumn("__dom",
          graft.functions.Urls.registeredDomain(col(ucol)))
        .join(ranks, Seq("__dom"))
        .drop("__dom")
    }),
    "gopher_filter" -> (p => df => {
      val tcol = p.getOrElse("text_col", "text").toString
      df.filter(graft.functions.TextFunctions.gopherKeep(
        org.apache.spark.sql.functions.col(tcol)))
    }),
    "repetition_filter" -> (p => df => {
      val tcol = p.getOrElse("text_col", "text").toString
      val idc = p.getOrElse("id_col", "doc_id").toString
      val kept = graft.functions.TextFunctions
        .repetitionSignals(df, idc, tcol)
        .filter(org.apache.spark.sql.functions.col("keep"))
        .select(org.apache.spark.sql.functions.col("doc_id").as(idc))
      df.join(kept, Seq(idc), "left_semi")
    }),
    // ---- dedup gates as declarative transforms (r10): the batch dedup
    // family drops into any config chain, completing the curation-
    // transform story (quality gates landed in r9)
    "exact_dedup" -> (p => df =>
      graft.operators.Dedup.exactKept(df,
        p.getOrElse("id_col", "doc_id").toString,
        p.getOrElse("text_col", "text").toString)),
    // EXACT near-dedup via the prefix-filter join; threshold is the
    // rational t_num/t_den (default 1/2 over word 3-shingles)
    "jaccard_dedup" -> (p => df =>
      graft.operators.Dedup.jaccardPrefixKept(df,
        p.getOrElse("id_col", "doc_id").toString,
        p.getOrElse("text_col", "text").toString,
        tNum = p.getOrElse("t_num", 1).toString.toDouble.toInt,
        tDen = p.getOrElse("t_den", 2).toString.toDouble.toInt,
        shingleK = p.getOrElse("shingle_k", 3).toString.toDouble.toInt)),
    // ---- sampling gates as declarative transforms (r10): the curation
    // caps/samplers drop into any config chain like the quality gates
    "cap_per_group" -> (p => df =>
      graft.operators.Splits.capPerGroup(df,
        p.getOrElse("group_col", "source").toString,
        p.getOrElse("id_col", "doc_id").toString,
        k = p.getOrElse("k", 10).toString.toDouble.toInt,
        salt = p.getOrElse("salt", "s42").toString)),
    // A-ES weighted sample: keep the k rows per group drawn
    // proportionally to `weight_col` (deterministic per salt)
    "weighted_sample" -> (p => df => {
      val idc = p.getOrElse("id_col", "doc_id").toString
      val kept = graft.operators.Splits.weightedSample(df,
        p.getOrElse("group_col", "lang").toString, idc,
        p.getOrElse("weight_col", "n_chars").toString,
        k = p.getOrElse("k", 20).toString.toDouble.toInt,
        salt = p.getOrElse("salt", "s42").toString)
        .select(org.apache.spark.sql.functions.col(idc))
      df.join(org.apache.spark.sql.functions.broadcast(kept),
        Seq(idc), "left_semi")
    }),
    // unigram-LM tokenization as a transform: appends a `pieces` column.
    // `train_uri` points at a reference corpus (parquet with the same
    // text column) — the model trains once per uri (cached) — otherwise
    // the model trains on the incoming batch itself (epoch-local)
    "unigram_tokenize" -> (p => df => {
      val tcol = p.getOrElse("text_col", "text").toString
      val idc = p.getOrElse("id_col", "doc_id").toString
      val seed = p.getOrElse("seed_size", 256).toString.toDouble.toInt
      val maxLen = p.getOrElse("max_piece_len", 4).toString.toDouble.toInt
      val iters = p.getOrElse("em_iters", 2).toString.toDouble.toInt
      val vsize = p.getOrElse("vocab_size", 64).toString.toDouble.toInt
      val v = p.get("train_uri").map(_.toString) match {
        case Some(uri) => graft.operators.UnigramLm.trainCached(
          df.sparkSession.read.parquet(uri), tcol, seed, maxLen, iters,
          vsize, cacheKey = uri)
        case None => graft.operators.UnigramLm.train(
          df, tcol, seed, maxLen, iters, vsize)
      }
      df.join(graft.operators.UnigramLm.encode(df, idc, tcol, v),
        Seq(idc), "left")
    })
  )

  /** Source registry. */
  val sources: Map[String, Params => Source] = Map(
    "file" -> (p => Connectors.JsonLinesSource(str(p, "uri"),
      p.getOrElse("ns", "file").toString,
      // DDL schema ("doc_id long, text string") — required for the
      // streaming tail, optional (skips inference) for batch
      schema = p.get("schema").map(s =>
        org.apache.spark.sql.types.StructType.fromDDL(s.toString)),
      maxFilesPerTrigger = p.get("max_files_per_trigger")
        .map(_.toString.toDouble.toInt))),
    "parquet" -> (p => Connectors.TableSource(str(p, "dir"), str(p, "table"))),
    "tables" -> (p => Connectors.MultiTableSource(str(p, "dir"),
      strSeq(p, "tables"), ns(p))),
    "csv" -> (p => Connectors.CsvSource(str(p, "uri"),
      p.getOrElse("ns", "csv").toString)),
    "orc" -> (p => Connectors.OrcSource(str(p, "uri"),
      p.getOrElse("ns", "orc").toString)),
    "mongodb" -> (p => Connectors.MongoSource(str(p, "uri"),
      collection = p.get("collection").map(_.toString),
      nsRegex = ns(p),
      collectionFilters = p.get("collection_filters").map(_.toString),
      resumeAfter = p.get("resume_after"))),
    "jdbc" -> jdbcSource, "postgres" -> jdbcSource, "mysql" -> jdbcSource,
    // the tail adaptors: each is one ChangeLog.LogSource over its text
    // log — batch `read` drains the log, `stream` tails it for the
    // streaming pipeline drive. postgres: a test_decoding log.
    "postgres-cdc" -> (p => LogSource(text =>
      graft.sources.PgDecoding.changes(text.lines(str(p, "uri")), ns(p)))),
    // mongodb: an oplog.rs document log. With `db_dir`+`collection`,
    // update envelopes are resolved against current collection state
    // (getOriginalDoc, reader.go:296-315) — in the streaming form that is
    // a stream-static join whose static side re-reads the LIVE collection
    // every epoch, exactly the reference's refetch-at-apply-time; without
    // it they carry the o2 id pointer (MongoSyncSink resolves instead).
    "mongodb-oplog" -> (p => LogSource { text =>
      // BigDecimal, not a double hop: a raw 64-bit MongoTimestamp
      // ((secs<<32)|ordinal) exceeds double's 2^53 integer range and
      // would round the $gte cursor, skipping events (reader.go:229-230)
      val since = p.get("since_ts").map(v => BigDecimal(v.toString).toLong)
      val env = graft.sources.MongoOplog.changes(text.lines(str(p, "uri")),
        ns(p), sinceTs = since)
      p.get("db_dir").fold(env)(db => graft.sources.MongoOplog.resolveUpdates(
        env, text.spark.read.format("graft-mongo")
          .option("collection", str(p, "collection")).load(db.toString)))
    }),
    // mysql: a textualized binlog RowsEvent log. `columns` =
    // {"db.table": [["name","data_type"], ...]} in ordinal order (the
    // INFORMATION_SCHEMA query of tailer.go:281-303). With
    // `decode_table`, envelopes decode into typed columns for that
    // table's schema (mysql data_types → Spark types) so a relational
    // sink (e.g. the JDBC upsert writer) can apply them directly.
    "mysql-binlog" -> (p => LogSource { text =>
      val cols: Map[String, Seq[(String, String)]] = p.get("columns") match {
        case Some(m: Map[_, _]) => m.map { case (k, v) =>
          k.toString -> (v match {
            case s: Seq[_] => s.collect {
              case pair: Seq[_] if pair.size >= 2 =>
                (pair.head.toString, pair(1).toString)
            }
            case _ => Seq.empty[(String, String)]
          })
        }.toMap
        case _ => Map.empty
      }
      val env = graft.sources.MysqlBinlog.changes(text.lines(str(p, "uri")),
        cols, ns(p))
      p.get("decode_table").fold(env) { t =>
        val tcols = cols.getOrElse(t.toString,
          throw new IllegalArgumentException(
            s"decode_table '$t' not in columns map"))
        Transforms.decode(graft.sources.MysqlBinlog.sparkSchema(tcols))(env)
      }
    }),
    // rethink adaptor: Copy-phase snapshot (TableList + ns filter); the
    // changefeed tail is graft.sources.Rethink.changefeed. Params are
    // read at read time: a config without `uri` parses, and its run fails
    "rethinkdb" -> (p => ((spark: org.apache.spark.sql.SparkSession) =>
      graft.sources.Rethink.snapshot(spark, str(p, "uri"), ns(p))): Source),
    // queue adaptor: `stream` is the pure-Sync consumer (ack =
    // checkpoint), batch `read` drains the pending messages
    "rabbitmq" -> (p => LogSource(
      graft.sources.Queue.changes(_, str(p, "uri"), ns(p))))
  )

  /** The `ns` regex param of a listing or tail source (all by default). */
  private def ns(p: Params): String = p.getOrElse("ns", ".*").toString

  /** Live JDBC source (embedded Derby offline; any JDBC URL deployed):
    * `table` → single-table snapshot (optionally resumable via
    * `resume_col`/`resume_after`); no `table` → whole-database multi-table
    * scan filtered by the `ns` regex (sources.Jdbc). */
  private def jdbcSource(p: Params): Source = {
    val opts = p.get("driver").map(d => Map("driver" -> d.toString))
      .getOrElse(Map.empty[String, String])
    p.get("table") match {
      case Some(t) => graft.sources.Jdbc.JdbcTableSource(str(p, "uri"),
        t.toString,
        resumeIdCol = p.get("resume_col").map(_.toString),
        resumeAfter = p.get("resume_after"),
        options = opts)
      case None => graft.sources.Jdbc.JdbcMultiTableSource(str(p, "uri"),
        ns(p), options = opts)
    }
  }

  /** Sink registry. */
  val sinks: Map[String, Params => Sink] = Map(
    "file" -> (p => Connectors.JsonLinesSink(str(p, "uri"))),
    "parquet" -> (p => Connectors.ParquetSink(str(p, "uri"),
      p.get("partition_by_ns").exists(_.toString.toBoolean))),
    "csv" -> (p => Connectors.CsvSink(str(p, "uri"))),
    "orc" -> (p => Connectors.OrcSink(str(p, "uri"))),
    "memory" -> (_ => new Connectors.MemorySink),
    // mode=sync: the CDC-applying writer (writer.go:19-67) — takes oplog
    // envelope batches, applies in oplog order against current target
    // state with update-refetch from `live_db`; other modes are the
    // document replace-writer
    "mongodb" -> (p => p.getOrElse("mode", "overwrite").toString match {
      case "sync" => Connectors.MongoSyncSink(str(p, "uri"),
        str(p, "collection"), liveDbDir = p.get("live_db").map(_.toString))
      case m => Connectors.MongoCollectionSink(str(p, "uri"),
        str(p, "collection"),
        idCol = p.getOrElse("id_col", "_id").toString, mode = m)
    }),
    "jdbc" -> jdbcSink, "postgres" -> jdbcSink, "mysql" -> jdbcSink,
    "elasticsearch" -> (p => {
      val acts = p.get("bulk_actions").map(_.toString.toDouble.toInt)
        .getOrElse(1000)
      val bytes = p.get("bulk_bytes").map(_.toString.toDouble.toLong)
        .getOrElse(2L << 20)
      // sniff_version: probe the cluster root and pick the writer line
      // by the reference's constraint registry (elasticsearch.go:84-137)
      if (p.get("sniff_version").exists(_.toString.toBoolean))
        graft.sinks.EsVersionRegistry.sinkFor(str(p, "uri"),
          str(p, "index"), p.getOrElse("id_col", "id").toString,
          opCol = p.get("op_col").map(_.toString),
          parentCol = p.get("parent_col").map(_.toString),
          bulkActions = acts, bulkBytes = bytes)
      else graft.sinks.EsBulkSink(str(p, "uri"),
        str(p, "index"), p.getOrElse("id_col", "id").toString,
        opCol = p.get("op_col").map(_.toString),
        parentCol = p.get("parent_col").map(_.toString),
        legacyParent = p.get("legacy_parent").exists(_.toString.toBoolean),
        bulkActions = acts, bulkBytes = bytes)
    }),
    "rethinkdb" -> (p => graft.sources.Rethink.RethinkTableSink(
      str(p, "uri"), str(p, "table"),
      orderCols = p.get("order_by").toSeq.flatMap {
        case s: Seq[_] => s.map(x =>
          org.apache.spark.sql.functions.col(x.toString))
        case one => Seq(org.apache.spark.sql.functions.col(one.toString))
      })),
    "rabbitmq" -> (p => graft.sources.Queue.QueuePublishSink(str(p, "uri"),
      routingKey = p.getOrElse("routing_key", "").toString,
      keyInField = p.get("key_in_field").exists(_.toString.toBoolean))),
    // ---- incremental-index sinks (beyond the reference: the ingest-time
    // index family as declarable pipeline sinks — a config row turns any
    // source into a continuously-indexed corpus; probes are library
    // calls). Each is its member's one `IndexSink` (streaming.EpochIndex):
    // epoch-keyed idempotent, so streaming epochs replay safely and a
    // batch run ingests as epoch 0; the maintain_* params self-maintain.
    "search-index" -> (p =>
      new graft.streaming.IncrementalSearchIndex.IndexSink(
        graft.streaming.IncrementalSearchIndex.Config(str(p, "dir"),
          hashBuckets = intOr(p, "hash_buckets", 64),
          k1 = dblOr(p, "k1", 1.2), b = dblOr(p, "b", 0.75)),
        Seq(p.getOrElse("id_col", "doc_id").toString,
          p.getOrElse("text_col", "text").toString),
        maintain = maintainPolicy(p))),
    "dedup-index" -> (p =>
      new graft.streaming.IncrementalDedup.IndexSink(
        graft.streaming.IncrementalDedup.Config(str(p, "dir"),
          shingleK = intOr(p, "shingle_k", 3),
          numHashes = intOr(p, "num_hashes", 128),
          bands = intOr(p, "bands", 32),
          estThreshold = dblOr(p, "est_threshold", 0.8),
          hashBuckets = intOr(p, "hash_buckets", 64),
          maxBucketSize = intOr(p, "max_bucket_size", 1000)),
        Seq(p.getOrElse("id_col", "doc_id").toString,
          p.getOrElse("text_col", "text").toString),
        maintain = maintainPolicy(p))),
    "link-index" -> (p =>
      new graft.streaming.IncrementalLinkIndex.IndexSink(
        graft.streaming.IncrementalLinkIndex.Config(str(p, "dir"),
          hashBuckets = intOr(p, "hash_buckets", 64)),
        Seq(p.getOrElse("id_col", "doc_id").toString,
          p.getOrElse("url_col", "url").toString,
          p.getOrElse("html_col", "html").toString),
        maintain = maintainPolicy(p))),
    "ann-index" -> (p =>
      new graft.streaming.IncrementalAnnIndex.IndexSink(
        graft.streaming.IncrementalAnnIndex.Config(str(p, "dir"),
          dim = intOr(p, "dim",
            throw new IllegalArgumentException(
              "ann-index needs 'dim' (embedding dimension)")),
          bitsPerBand = intOr(p, "bits_per_band", 4),
          numBands = intOr(p, "num_bands", 6),
          hashBuckets = intOr(p, "hash_buckets", 64)),
        Seq(p.getOrElse("id_col", "vec_id").toString,
          p.getOrElse("vec_col", "vec").toString),
        maintain = maintainPolicy(p))),
    "sketch-rollup" -> (p =>
      graft.streaming.SketchRollup.RollupSink(
        kind = p.getOrElse("sketch", "cms").toString,
        dir = str(p, "dir"),
        groupCol = p.getOrElse("group_col", "event_type").toString,
        tsCol = p.getOrElse("ts_col", "ts").toString,
        valueCol = p.getOrElse("value_col", "value").toString,
        depth = intOr(p, "depth", 4), width = intOr(p, "width", 256),
        k = intOr(p, "k", 200), lgK = intOr(p, "lg_k", 18),
        numBuckets = intOr(p, "buckets", 8))),
    "dsir-gate" -> (p =>
      new graft.streaming.IncrementalDsirGate.IndexSink(
        graft.streaming.IncrementalDsirGate.Config(str(p, "dir"),
          dim = intOr(p, "dim", 256),
          alpha = dblOr(p, "alpha", 1.0)),
        Seq(p.getOrElse("id_col", "doc_id").toString,
          p.getOrElse("text_col", "text").toString),
        maintain = maintainPolicy(p)))
  )

  private def intOr(p: Params, k: String, default: => Int): Int =
    p.get(k).map(_.toString.toDouble.toInt).getOrElse(default)
  private def dblOr(p: Params, k: String, default: => Double): Double =
    p.get(k).map(_.toString.toDouble).getOrElse(default)

  /** Ingest-path maintenance policy for the incremental-index sinks
    * (graft.streaming.Maintenance — the reference's interval compactor
    * as config): `maintain_every` (epoch-count trigger) and/or
    * `maintain_max_files` enable it; `maintain_size_ratio` /
    * `maintain_grace_ms` tune the pass. Absent → the index is
    * CLI-maintained (tools.IndexMaint), the pre-r17 behavior. */
  private def maintainPolicy(p: Params)
      : Option[graft.streaming.Maintenance.Policy] =
    if (!p.contains("maintain_every") && !p.contains("maintain_max_files"))
      None
    else Some(graft.streaming.Maintenance.Policy(
      everyEpochs = intOr(p, "maintain_every", 8),
      maxLiveFiles = p.get("maintain_max_files")
        .map(_.toString.toDouble.toLong).getOrElse(Long.MaxValue),
      sizeRatio = dblOr(p, "maintain_size_ratio", 4.0),
      graceMs = p.get("maintain_grace_ms")
        .map(_.toString.toDouble.toLong).getOrElse(3600000L)))

  /** Adaptor descriptions + sample configs — the `adaptor.Describable`
    * surface behind `transporter about` / `transporter init`
    * (`cmd/transporter/about.go`, `init.go`). Samples are RUNNABLE param
    * maps for ConfigLoader (modulo paths existing). */
  val describe: Map[String, (String, Map[String, Any])] = Map(
    "file" -> ("JSON-lines file source/sink (adaptor/file)",
      Map("uri" -> "/tmp/graft-sample/in.jsonl", "ns" -> "docs")),
    "parquet" -> ("parquet table-dir source / parquet sink",
      Map("dir" -> "/root/testdata/sf0.001", "table" -> "nation")),
    "tables" -> ("multi-table tagged-union source with ns-regex listing pushdown",
      Map("dir" -> "/root/testdata/sf0.001",
        "tables" -> Seq("region", "nation"), "ns" -> ".*")),
    "csv" -> ("CSV file source", Map("uri" -> "/tmp/graft-sample/in.csv")),
    "orc" -> ("ORC file source", Map("uri" -> "/tmp/graft-sample/in.orc")),
    "jdbc" -> ("live JDBC source/sink (embedded Derby offline; any JDBC URL deployed)",
      Map("uri" -> "jdbc:derby:memory:sample;create=true", "table" -> "users")),
    "postgres" -> ("postgres adaptor -> JDBC connector (snapshot, resumable scan, PK-discovery upsert)",
      Map("uri" -> "jdbc:postgresql://host/db", "table" -> "users")),
    "mysql" -> ("mysql adaptor -> JDBC connector",
      Map("uri" -> "jdbc:mysql://host/db", "table" -> "users")),
    "mongodb" -> ("mongo-shaped DSv2 source/sink over extended-JSON collection dirs (system.* exclusion, collection_filters pushdown, resumable _id cursor)",
      Map("uri" -> "/tmp/graft-sample/mongodb", "collection" -> "docs")),
    "elasticsearch" -> ("live elasticsearch _bulk sink (NDJSON over HTTP; flush by actions/bytes; per-item error surfacing)",
      Map("uri" -> "http://host:9200", "index" -> "docs", "id_col" -> "id")),
    "postgres-cdc" -> ("postgres test_decoding CDC parser over an append-only decoding log (tailer.go wire format)",
      Map("uri" -> "/tmp/graft-sample/wal", "ns" -> "^public\\.")),
    "mongodb-oplog" -> ("mongodb oplog.rs tailer over an append-only oplog-document log ({ts,h,v,op,ns,o,o2} shape, update-as-refetch)",
      Map("uri" -> "/tmp/graft-sample/oplog", "ns" -> "^db\\.users$",
        "db_dir" -> "/tmp/graft-sample/db", "collection" -> "users")),
    "mysql-binlog" -> ("mysql binlog tailer over a textualized RowsEvent log (WRITE/UPDATE/DELETE_ROWS events, update keeps the after-image, bit/spatial casify)",
      Map("uri" -> "/tmp/graft-sample/binlog", "ns" -> "^db\\.",
        "columns" -> Map("db.recipes" -> Seq(
          Seq("recipe_id", "int"), Seq("recipe_name", "varchar"))))),
    "rethinkdb" -> ("rethink adaptor over a dir-of-tables (TableList snapshot, old_val/new_val changefeed classification, Conflict:replace writer)",
      Map("uri" -> "/tmp/graft-sample/rethink", "ns" -> ".*")),
    "rabbitmq" -> ("queue adaptor over a dir-of-queues (pure-Sync consumer stream, ack=checkpoint; publisher routes by ns + routing key, deletes ignored)",
      Map("uri" -> "/tmp/graft-sample/queues", "ns" -> ".*")),
    "memory" -> ("collecting in-memory sink (tests/debug; bounded)",
      Map.empty[String, Any]),
    "search-index" -> ("ingest-time BM25 search index sink (term-partitioned postings per epoch; probe via IncrementalSearchIndex.probe)",
      Map("dir" -> "/tmp/graft-sample/searchidx", "id_col" -> "doc_id",
        "text_col" -> "text")),
    "dedup-index" -> ("ingest-time MinHash dedup sink (kept/dropped decisions per epoch vs everything indexed so far)",
      Map("dir" -> "/tmp/graft-sample/dedupidx", "id_col" -> "doc_id",
        "text_col" -> "text")),
    "link-index" -> ("ingest-time link-graph sink (pages parsed once at ingest into a bucketed (src, target-url, anchor-text) edge table; probe via IncrementalLinkIndex.rank/anchors/inlinks or the materialized rank tables; maintain_every=N self-maintains — compact + rank-table refresh + gc — after every Nth unfolded epoch)",
      Map("dir" -> "/tmp/graft-sample/linkidx", "id_col" -> "doc_id",
        "url_col" -> "url", "html_col" -> "html",
        "maintain_every" -> 8)),
    "ann-index" -> ("ingest-time LSH vector index sink (banded buckets per epoch; probe via IncrementalAnnIndex.topK)",
      Map("dir" -> "/tmp/graft-sample/annidx", "dim" -> 64,
        "id_col" -> "vec_id", "vec_col" -> "vec")),
    "dsir-gate" -> ("ingest-time DSIR raw-LM accumulator (bucket counts per epoch; freeze the target LM once via IncrementalDsirGate.initTarget, score via .score — bit-identical to batch Dsir over the ingested union)",
      Map("dir" -> "/tmp/graft-sample/dsirgate", "dim" -> 256,
        "id_col" -> "doc_id", "text_col" -> "text")),
    "sketch-rollup" -> ("continuous per-(group, day) MERGING sketch table (sketch = cms | kll | theta; epochs merge — union/add — into stored rows, replay-fenced; probe via SketchRollup.RollupSink.state)",
      Map("dir" -> "/tmp/graft-sample/rollup", "sketch" -> "cms",
        "group_col" -> "event_type", "ts_col" -> "ts",
        "value_col" -> "user_id", "depth" -> 4, "width" -> 256))
  )

  /** Live JDBC sink: `mode=upsert` (default) merges CDC envelopes by
    * primary key (discovered from connector metadata unless `id_cols`
    * given); `mode=append|overwrite` is a plain df.write.jdbc. */
  private def jdbcSink(p: Params): Sink = {
    val opts = p.get("driver").map(d => Map("driver" -> d.toString))
      .getOrElse(Map.empty[String, String])
    p.getOrElse("mode", "upsert").toString match {
      case "upsert" => graft.sources.Jdbc.JdbcUpsertSink(str(p, "uri"),
        str(p, "table"),
        idCols = p.get("id_cols").map(_ => strSeq(p, "id_cols")).getOrElse(Nil),
        orderCols = p.get("order_by").map(_ => strSeq(p, "order_by"))
          .getOrElse(Nil),
        options = opts)
      case m => graft.sources.Jdbc.JdbcSink(str(p, "uri"), str(p, "table"),
        mode = m, options = opts)
    }
  }
}

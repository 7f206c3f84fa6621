package graft

import graft.pipeline.ConfigLoader
import graft.sources.Connectors.MemorySink

class ConfigLoaderSpec extends SparkSpec {

  test("config-driven pipeline parses, describes, and runs") {
    val json = s"""
      |{"name": "cfg-copy",
      | "source": {"adaptor": "tables", "name": "fixtures",
      |            "dir": "$${SF_DIR}", "tables": ["region", "nation"]},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m", "ns": "nation",
      |    "transforms": [
      |      {"fn": "rename", "field_map": {"n_name": "name"}},
      |      {"fn": "skip", "field": "n_nationkey", "operator": "<", "match": 10}
      |    ]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("SF_DIR" -> sf))
    assert(spec.describe.contains("Source: fixtures"))
    assert(spec.describe.contains("Transform: rename"))
    // swap in an inspectable sink instance
    val mem = new MemorySink
    val runnable = spec.copy(sinks =
      spec.sinks.map(s => s.copy(sink = mem)))
    runnable.run(spark)
    assert(mem.rows.size == 10) // nations 0..9
    assert(mem.rows.head.schema.fieldNames.contains("name"))
  }

  test("curation gates run as config transforms: each gate drops its docs") {
    // the fixture vocabulary carries only ONE Gopher stop word ("the"),
    // so every fixture doc fails the >= 2-stop-kinds rule — build a
    // small corpus where each gate has distinct victims instead
    val clean = ((1 to 60).map(i => s"word$i") ++
      Seq("the", "of", "and")).mkString(" ")
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfgcurate").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      (Seq(1L, 2L, 3L, 4L).map(doc(_, clean)) ++
        Seq(doc(5, "too short the of"), doc(6, "also brief and to"),
          // passes Gopher, killed by the repetition gate (2/2 dup lines)
          doc(7, clean + "\\n" + clean)))
        .mkString("\n").getBytes)

    val json = s"""
      |{"name": "cfg-curate",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, text string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [
      |      {"fn": "gopher_filter"},
      |      {"fn": "repetition_filter"}
      |    ]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json,
      Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val got = mem.rows.map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(1L, 2L, 3L, 4L),
      s"gopher drops 5/6, repetition drops 7; got $got")
  }

  test("dedup gates + tokenizer run as config transforms") {
    // doc 2 is an exact dup of 1 (whitespace-normalized), doc 4 a
    // shingle-level near-dup of 3 (one word changed in 20), doc 5 unique
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val base2 = (1 to 20).map(i => s"oth$i").mkString(" ")
    val near2 = base2.replace("oth7", "changed")
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfgdedup").toString
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      Seq(doc(1, base), doc(2, base + "  "), doc(3, base2),
        doc(4, near2), doc(5, "totally different words"))
        .mkString("\n").getBytes)
    val json = s"""
      |{"name": "cfg-dedup",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, text string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [
      |      {"fn": "exact_dedup"},
      |      {"fn": "jaccard_dedup", "t_num": 1, "t_den": 2, "shingle_k": 3},
      |      {"fn": "unigram_tokenize", "vocab_size": 40, "em_iters": 1}
      |    ]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val got = mem.rows.map(r => r.getAs[Long]("doc_id")).toSet
    // exact_dedup drops 2; jaccard_dedup drops 4 (near-dup of 3)
    assert(got == Set(1L, 3L, 5L), got.toString)
    // tokenizer appended pieces that concatenate back to the words
    mem.rows.foreach { r =>
      val pieces = r.getAs[scala.collection.Seq[String]]("pieces")
      val text = r.getAs[String]("text")
      assert(pieces.mkString == text.trim.split("\\s+").mkString, text)
    }
  }

  test("raw-web chain runs as config transforms: url_filter -> " +
      "html_extract -> paragraph_dedup") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfgweb").toString
    // docs 1,2 share a boilerplate paragraph; doc 3 is on a blocked
    // domain; html carries nav/footer boilerplate around the content
    def page(body: String) =
      "<html><body><nav><a href='/'>Home</a> <a href='/a'>A</a></nav>" +
        body + "<footer><a href='/t'>Terms of Service here</a> " +
        "<a href='/p'>Privacy Policy now</a></footer></body></html>"
    def doc(id: Long, url: String, body: String) =
      s"""{"doc_id":$id,"url":"$url","html":"${page(body)
        .replace("\"", "\\\"")}"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      Seq(
        doc(1, "https://a.example.com/x",
          "<p>unique first document body sentence.</p>" +
            "<p>shared boilerplate paragraph across this site.</p>"),
        doc(2, "https://b.example.com/y",
          "<p>shared boilerplate paragraph across this site.</p>" +
            "<p>unique second document body sentence.</p>"),
        doc(3, "https://x.tracker.net/z",
          "<p>spam content that must never survive the chain.</p>"))
        .mkString("\n").getBytes)
    val json = s"""
      |{"name": "cfg-web",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, url string, html string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [
      |      {"fn": "url_filter", "blocklist": ["tracker.net"]},
      |      {"fn": "html_extract"},
      |      {"fn": "paragraph_dedup"}
      |    ]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val byId = mem.rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(byId.keySet == Set(1L, 2L), byId.keySet.toString)
    assert(byId(1L) == "unique first document body sentence.\n" +
      "shared boilerplate paragraph across this site.")
    // doc 2 loses the shared paragraph (doc 1 saw it first) AND the
    // nav/footer boilerplate (link density)
    assert(byId(2L) == "unique second document body sentence.")
  }

  test("link_rank runs as a config transform: crawl batch gets rank_fp") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfglink").toString
    // pages 1 and 2 both link to page 0 (absolute + root-relative);
    // page 0 links only off-corpus — the recovered graph is 1->0, 2->0
    def doc(id: Long, url: String, links: String) =
      s"""{"doc_id":$id,"url":"$url","html":"<p>t</p>${
        links.replace("\"", "\\\"")}"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      Seq(
        doc(0, "https://a.example.com/p/0",
          "<a href=\"https://elsewhere.org/\">out</a>"),
        doc(1, "https://b.example.org/p/1",
          "<a href=\"https://a.example.com/p/0\">zero</a>"),
        doc(2, "https://a.example.com/p/2",
          "<a href=\"/p/0\">zero</a>"))
        .mkString("\n").getBytes)
    val json = s"""
      |{"name": "cfg-link",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, url string, html string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [{"fn": "link_rank"}]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val ranks = mem.rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_fp")).toMap
    assert(ranks.keySet === Set(0L, 1L, 2L))
    // the linked-to page outranks its linkers; the symmetric linkers tie
    assert(ranks(0L) > ranks(1L) && ranks(1L) === ranks(2L))
  }

  test("domain_rank runs as a config transform: every page inherits its SITE's rank") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfgdom").toString
    // two pages on a.example.com, one on b.example.org; both b->a page
    // links and one a->b link: domain graph a<->b with a receiving 2
    def doc(id: Long, url: String, links: String) =
      s"""{"doc_id":$id,"url":"$url","html":"<p>t</p>${
        links.replace("\"", "\\\"")}"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      Seq(
        doc(0, "https://a.example.com/p/0",
          "<a href=\"https://b.example.org/p/2\">b</a>"),
        doc(1, "https://a.example.com/p/1",
          "<a href=\"/p/0\">home</a>"),
        doc(2, "https://b.example.org/p/2",
          "<a href=\"https://a.example.com/p/0\">zero</a>" +
            "<a href=\"https://a.example.com/p/1\">one</a>"))
        .mkString("\n").getBytes)
    val json = s"""
      |{"name": "cfg-dom",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, url string, html string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [{"fn": "domain_rank"}]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val ranks = mem.rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("domain_rank_fp")).toMap
    assert(ranks.keySet === Set(0L, 1L, 2L))
    // pages of one domain share the site score
    assert(ranks(0L) === ranks(1L))
    // example.com receives 3 of the 4 domain edges (2 cross + 1
    // intra-site self-loop) vs example.org's 1 — it must outrank
    assert(ranks(0L) > ranks(2L))
  }

  test("sampling gates run as config transforms: cap + weighted sample") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-cfgsample").toString
    // 6 docs in one lang-group: ids 1..6, weights 1 except id 6 huge
    def doc(id: Long, w: Long) =
      s"""{"doc_id":$id,"lang":"en","n_chars":$w,"text":"t$id"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "docs.jsonl"),
      ((1 to 5).map(i => doc(i.toLong, 1L)) :+ doc(6L, 1000000L))
        .mkString("\n").getBytes)
    val json = s"""
      |{"name": "cfg-sample",
      | "source": {"adaptor": "file", "uri": "$${DOCS}",
      |            "schema": "doc_id long, lang string, n_chars long, text string"},
      | "sinks": [
      |   {"adaptor": "memory", "name": "m",
      |    "transforms": [
      |      {"fn": "weighted_sample", "group_col": "lang", "k": 3,
      |       "weight_col": "n_chars", "salt": "w1"},
      |      {"fn": "cap_per_group", "group_col": "lang", "k": 2,
      |       "salt": "c1"}
      |    ]}
      | ]}""".stripMargin
    val spec = ConfigLoader.parse(json, Map("DOCS" -> s"$work/docs.jsonl"))
    val mem = new MemorySink
    spec.copy(sinks = spec.sinks.map(s => s.copy(sink = mem))).run(spark)
    val got = mem.rows.map(_.getAs[Long]("doc_id")).toSet
    // weighted sample keeps 3 of 6 (the 1e6-weight doc essentially
    // always among them), then the cap keeps 2 of those 3
    assert(got.size == 2, got.toString)
    val sampled = graft.operators.Splits.weightedSample(
      spark.read.schema("doc_id long, lang string, n_chars long, text string")
        .json(s"$work/docs.jsonl"), "lang", "doc_id", "n_chars", 3, "w1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(sampled), s"$got not from $sampled")
  }

  test("describe covers exactly the registered source and sink names") {
    import graft.pipeline.Registry
    assert(Registry.describe.keySet ==
      Registry.sources.keySet ++ Registry.sinks.keySet)
  }

  test("unknown names and missing env vars fail loudly") {
    intercept[IllegalArgumentException] {
      ConfigLoader.parse("""{"source": {"adaptor": "nope"}, "sinks": []}""")
    }
    intercept[IllegalArgumentException] {
      ConfigLoader.parse("""{"source": {"adaptor": "file", "uri": "${UNSET_VAR_XYZ}"},
        "sinks": [{"adaptor": "memory"}]}""")
    }
    // rethinkdb went live in round 5: it parses and describes, but a run
    // without the required `uri` fails loudly at read time
    val spec = ConfigLoader.parse(
      """{"source": {"adaptor": "rethinkdb"},
         "sinks": [{"adaptor": "memory"}]}""")
    assert(spec.describe.contains("rethinkdb"))
    val e = intercept[IllegalArgumentException] { spec.run(spark) }
    assert(e.getMessage.contains("'uri'"))
    // and with a valid dir-of-tables uri the snapshot round-trips
    val dir = java.nio.file.Files.createTempDirectory("cfg-rethink")
    java.nio.file.Files.createDirectory(dir.resolve("t1"))
    java.nio.file.Files.write(dir.resolve("t1/docs.jsonl"),
      """{"id": 1, "v": "a"}
        |{"id": 2, "v": "b"}""".stripMargin.getBytes)
    val live = ConfigLoader.parse(
      s"""{"source": {"adaptor": "rethinkdb", "uri": "$dir"},
          "sinks": [{"adaptor": "memory"}]}""")
    val mem2 = new MemorySink
    live.copy(sinks = live.sinks.map(s => s.copy(sink = mem2))).run(spark)
    assert(mem2.rows.size == 2)
    // a non-array transforms value fails loudly instead of being ignored
    val e2 = intercept[IllegalArgumentException] {
      ConfigLoader.parse(
        """{"source": {"adaptor": "file", "uri": "/tmp/x"},
           "sinks": [{"adaptor": "memory",
                      "transforms": {"fn": "pick", "fields": ["a"]}}]}""")
    }
    assert(e2.getMessage.contains("must be a JSON array"))
    // env values with quotes cannot corrupt or inject config
    val spec2 = ConfigLoader.parse(
      """{"source": {"adaptor": "file", "uri": "${WEIRD}", "ns": "n"},
         "sinks": [{"adaptor": "memory"}]}""",
      Map("WEIRD" -> """/tmp/a"b\\c"""))
    assert(spec2.describe.nonEmpty)
    // missing required param names the element
    val e3 = intercept[IllegalArgumentException] {
      ConfigLoader.parse(
        """{"source": {"adaptor": "file"},
           "sinks": [{"adaptor": "memory"}]}""")
    }
    assert(e3.getMessage.contains("source 'file'") &&
      e3.getMessage.contains("'uri'"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.Urls
import graft.operators.SpanDedup

/** URL curation primitives + cross-document paragraph dedup (r11). */
class UrlsSpec extends SparkSpec {
  import spark.implicits._

  private def one(url: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String =
    Seq(url).toDF("u").select(c(col("u")).cast("string").as("r"))
      .as[String].collect()(0)

  test("host: lowercased, userinfo/port stripped") {
    assert(one("HTTPS://User:pw@News.Example.COM:8443/A/b?q=1",
      Urls.host) == "news.example.com")
  }

  test("normalize: tracking params, fragment, trailing slash") {
    assert(one("https://Ex.Com/path/?utm_source=x&keep=1&ref=rss#frag",
      Urls.normalize) == "https://ex.com/path/?keep=1")
    assert(one("https://ex.com/path/sub/", Urls.normalize) ==
      "https://ex.com/path/sub")
    // ALL params tracking → the dangling '?' goes too
    assert(one("https://ex.com/p?utm_campaign=a&fbclid=b",
      Urls.normalize) == "https://ex.com/p")
    // root slash survives
    assert(one("https://ex.com/", Urls.normalize) == "https://ex.com/")
    // path case is preserved (only scheme+host lowercase)
    assert(one("https://EX.com/CaseSensitive", Urls.normalize) ==
      "https://ex.com/CaseSensitive")
  }

  test("resolve: absolute passes, root-relative joins scheme://host") {
    def res(base: String, href: String): String =
      Seq((base, href)).toDF("b", "h")
        .select(Urls.resolve(col("b"), col("h")).as("r"))
        .as[String].collect()(0)
    val base = "https://news.example.com/articles/item-7"
    assert(res(base, "https://other.org/x") === "https://other.org/x")
    assert(res(base, "/tos") === "https://news.example.com/tos")
    assert(res(base, "/") === "https://news.example.com/")
    // bare-relative approximated as root-relative (documented)
    assert(res(base, "next") === "https://news.example.com/next")
    // userinfo/port stay inside the authority
    assert(res("http://u@Ex.com:81/a", "/b") === "http://u@Ex.com:81/b")
    // protocol-relative takes the BASE scheme (r13 fix: was mis-joined
    // onto the base host as a root-relative path)
    assert(res(base, "//cdn.example.net/lib.js")
      === "https://cdn.example.net/lib.js")
    assert(res("http://plain.org/p", "//cdn.example.net/x")
      === "http://cdn.example.net/x")
  }

  test("registeredDomain: plain TLD, ccTLD second-level, bare domain") {
    assert(one("https://a.b.news.example.com/x",
      Urls.registeredDomain) == "example.com")
    assert(one("https://shop.example.co.uk/x",
      Urls.registeredDomain) == "example.co.uk")
    assert(one("https://sample.io/x", Urls.registeredDomain) == "sample.io")
    assert(one("https://docs.sample.io/x",
      Urls.registeredDomain) == "sample.io")
  }

  test("blocked: registered-domain membership") {
    assert(one("https://x.tracker.net/p",
      u => Urls.blocked(u, Seq("tracker.net"))) == "true")
    assert(one("https://nettracker.net/p",
      u => Urls.blocked(u, Seq("tracker.net"))) == "false")
  }

  test("removeDupParagraphs: first occurrence wins, docs rebuilt in order") {
    val docs = Seq(
      (1L, "alpha beta\nshared banner line\ngamma delta"),
      (2L, "shared banner line\nunique two\nshared banner line"),
      (3L, "unique three\n\nshared banner line")).toDF("doc_id", "text")
    val out = SpanDedup.removeDupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 3L, 3L, "alpha beta\nshared banner line\ngamma delta")))
    // doc 2: both banner copies dropped (cross-doc AND within-doc)
    assert(out(1) == ((2L, 3L, 1L, "unique two")))
    // doc 3: blank paragraph not counted; banner dropped
    assert(out(2) == ((3L, 2L, 1L, "unique three")))
  }

  test("removeDupParagraphs: blank/empty docs keep a 0/0 row") {
    val docs = Seq((1L, "only para"), (2L, ""), (3L, "\n\n"))
      .toDF("doc_id", "text")
    val out = SpanDedup.removeDupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out(1) == ((2L, 0L, 0L, "")))
    assert(out(2) == ((3L, 0L, 0L, "")))
  }

  test("normalize: unparseable URLs fall back to the RAW input (never " +
      "collapse to one '' dedup key)") {
    // no scheme://host → canonical form would be empty; the fallback
    // keeps the raw value so such URLs dedup only against themselves
    assert(one("//cdn.example.com/x", Urls.normalize) ==
      "//cdn.example.com/x")
    assert(one("example.com/path?utm_source=x", Urls.normalize) ==
      "example.com/path?utm_source=x")
    assert(one("not a url at all", Urls.normalize) == "not a url at all")
    // distinct unparseable URLs keep DISTINCT keys — url_filter+dedup
    // must not drop all-but-one of them (the '' collapse corpus-loss bug)
    val keys = Seq("foo/one", "bar/two", "//h/three").toDF("u")
      .select(Urls.normalize(col("u")).as("n")).distinct().count()
    assert(keys == 3)
  }

  test("fuzz: resolve is total and resolved output is absolute-or-raw") {
    val rnd = new scala.util.Random(4321)
    val alphabet = "abXY09.:/?&=#%_-~@ \t<>\"'\\"
    def rand(): String = (0 until rnd.nextInt(30))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = (0 until 300).map { _ =>
      val base = rnd.nextInt(3) match {
        case 0 => "https://ex.com/a/b"
        case 1 => rand() // garbage base: schemeHost extracts to ""
        case 2 => "HTTP://U@h.org:81/" + rand()
      }
      (base, if (rnd.nextBoolean()) rand() else "/" + rand())
    }
    val got = rows.toDF("b", "h")
      .select(col("b"), col("h"),
        Urls.resolve(col("b"), col("h")).as("r")).collect()
    got.foreach { r =>
      val (b, h, res) = (r.getString(0), r.getString(1), r.getString(2))
      assert(res != null, s"null resolve for ($b, $h)")
      // absolute hrefs pass through untouched
      if (h.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"))
        assert(res == h, s"absolute href rewritten: $h -> $res")
      // otherwise the base's authority (possibly empty) prefixes it
      else assert(res.endsWith(h) || res.endsWith("/" + h),
        s"($b, $h) -> $res")
    }
  }

  test("fuzz: hrefs is total over malformed markup and never null") {
    val rnd = new scala.util.Random(99)
    val alphabet = "<>a h=\"'/x.:&;\n"
    val pages = (0 until 300).map(_ => (0 until rnd.nextInt(80))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val got = pages.toDF("h")
      .select(graft.functions.Html.hrefs(col("h")).as("l"))
      .as[Seq[String]].collect()
    assert(got.forall(_ != null))
    // every extracted href literally appears quoted in some page
    got.zip(pages).foreach { case (links, page) =>
      links.foreach(l => assert(page.contains("\"" + l + "\""), s"$l / $page"))
    }
  }

  test("fuzz: normalize is total and idempotent, domain/host never throw") {
    val rnd = new scala.util.Random(1234)
    val alphabet = "abXY09.:/?&=#%_-~@ \t<>\"'\\"
    def randUrl(): String = {
      val core = (0 until rnd.nextInt(40))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      rnd.nextInt(4) match {
        case 0 => "https://" + core
        case 1 => "HTTP://Ex.COM/" + core
        case 2 => core
        case 3 => "https://a.b.co.uk/" + core + "?utm_x=1&ref=" + core.take(5)
      }
    }
    val urls = (Seq("https://ex.com/p?&", "https://ex.com/p?utm_a=1",
      "", "nonsense", "https://h/?#") ++
      (0 until 300).map(_ => randUrl())).distinct
    val df = urls.toDF("u").select(col("u"),
      Urls.normalize(col("u")).as("n1"),
      Urls.host(col("u")).as("h"),
      Urls.registeredDomain(col("u")).as("d"))
      .select(col("u"), col("n1"), col("h"), col("d"),
        Urls.normalize(col("n1")).as("n2"))
    df.collect().foreach { r =>
      assert(r.getString(1) != null && r.getString(2) != null &&
        r.getString(3) != null, s"null output for ${r.getString(0)}")
      assert(r.getString(1) == r.getString(4),
        s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}' " +
          s"-> '${r.getString(4)}'")
    }
  }

  test("registeredDomain equals its inlined form, host bound once") {
    // the pre-binding expression: host(url) and its split re-inlined at
    // every use — kept here as the bit-for-bit oracle
    def inlined(url: org.apache.spark.sql.Column) = {
      val h = Urls.host(url)
      val labels = split(h, "\\.")
      val n = size(labels)
      val tld = element_at(labels, -1)
      val sld = element_at(labels, -2)
      val ccSld = length(tld) === 2 && array_contains(
        array(Seq("co", "com", "net", "org", "gov", "ac", "edu").map(lit): _*), sld)
      when(n <= 2, h)
        .when(ccSld && n >= 3, concat_ws(".", element_at(labels, -3), sld, tld))
        .otherwise(concat_ws(".", sld, tld))
    }
    val rnd = new scala.util.Random(77)
    // labels that hit each branch: generic second-level labels, 2- and
    // 3-char TLDs, empty labels, case, a line break, non-ASCII (one
    // supplementary character counts as one)
    val labels = Seq("co", "com", "org", "ac", "uk", "au", "jp", "io",
      "net9", "", "A", "Co", "x\n", "\n", "é", "\uD835\uDD18z", "\uD835\uDD18")
    def randHost(): String = (0 until 1 + rnd.nextInt(5))
      .map(_ => labels(rnd.nextInt(labels.size))).mkString(".")
    val urls = Seq[String](null, "", "nonsense", "https://uk",
      "https://a.b.", "https://.co.uk", "https://x.y.co.uk", "HTTPS://A.B.COM.AU/p",
      "https://u@a.b.c.d.co.jp:81/x", "https://a..b", "ftp://h.ac.nz",
      "https://a.co.uk\n", "https://a.co.ukk") ++
      (0 until 400).map(_ => "https://" + randHost() + "/p")
    val got = urls.toDF("u")
      .select(Urls.registeredDomain(col("u")).as("a"), inlined(col("u")).as("b"))
      .collect()
    assert(got.length == urls.length)
    got.foreach(r => assert(r.get(0) == r.get(1), r))
  }

  test("fuzz: mainText is total over malformed markup") {
    val rnd = new scala.util.Random(99)
    val alphabet = "ab <>/&;pdivscript=\"'-!x"
    val pages = (0 until 300).map(_ => (0 until rnd.nextInt(120))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString) ++
      Seq("", "<p>", "</p></p>", "<script>", "<a href=", "&amp", "<!--",
        "<p><a>x", "<style>a{", "<<>>")
    val out = pages.toDF("h")
      .select(graft.functions.Html.mainText(col("h")).as("t"))
      .as[String].collect()
    assert(out.length == pages.length && out.forall(_ != null))
  }

  test("fuzz: paragraph dedup keeps exactly the distinct paragraphs, " +
      "in-doc order preserved") {
    val rnd = new scala.util.Random(7)
    val pool = (0 until 30).map(i => s"paragraph number $i content")
    val docs = (0 until 60).map { id =>
      (id.toLong, (0 until rnd.nextInt(8))
        .map(_ => pool(rnd.nextInt(pool.length))).mkString("\n"))
    }
    val out = SpanDedup.removeDupParagraphs(docs.toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // union of kept paragraphs == distinct paragraphs of the corpus
    val keptAll = out.values.flatMap(t =>
      if (t.isEmpty) Nil else t.split("\n").toSeq).toSeq
    val distinctCorpus = docs.flatMap(_._2.split("\n")).filter(_.nonEmpty)
      .distinct
    assert(keptAll.sorted == keptAll.distinct.sorted, "a paragraph kept twice")
    assert(keptAll.toSet == distinctCorpus.toSet, "kept set != distinct set")
    // each doc's kept text is an ordered subsequence of its original
    docs.foreach { case (id, t) =>
      val orig = t.split("\n").filter(_.nonEmpty).toSeq
      val kept = out(id).split("\n").filter(_.nonEmpty).toSeq
      var i = 0
      kept.foreach { p =>
        val j = orig.indexWhere(_ == p, i)
        assert(j >= 0, s"doc $id kept '$p' out of order")
        i = j + 1
      }
    }
  }

  test("registry transforms: url_filter blocklist+dedup, paragraph_dedup") {
    val df = Seq(
      (1L, "https://a.example.com/x?utm_source=s", "keep one\nbanner"),
      (2L, "https://A.Example.com/x", "banner\nkeep two"),
      (3L, "https://bad.tracker.net/y", "spam text"))
      .toDF("doc_id", "url", "text")
    val filtered = graft.pipeline.Registry.transforms("url_filter")(
      Map("blocklist" -> Seq("tracker.net"), "dedup" -> "true"))(df)
    // 3 blocked; 1 and 2 normalize to the same URL → lowest id kept
    assert(filtered.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val paras = graft.pipeline.Registry.transforms("paragraph_dedup")(
      Map())(df)
    val byId = paras.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(byId(1L) == "keep one\nbanner" && byId(2L) == "keep two")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Urls

/** Hand-computed pins for the URL normalization family — each rule
  * asserted on a URL exercising exactly that rule, plus the hostile
  * shapes (no port, non-default port under the "wrong" scheme, empty
  * path, single-label host, body `?` inside the fragment).
  */
class UrlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def norm(urls: String*): Seq[String] =
    urls.toDF("u").select(Urls.normalizeUrl(col("u"))).as[String].collect().toSeq

  private def dom(hosts: String*): Seq[String] =
    hosts.toDF("h").select(Urls.registeredDomain(col("h"))).as[String].collect().toSeq

  test("scheme and host lowercase; path case preserved") {
    assert(norm("HTTPS://WWW.Example.COM/A/B") === Seq("https://www.example.com/A/B"))
  }

  test("default ports strip only under their own scheme") {
    assert(
      norm(
        "https://ex.com:443/a", // default -> stripped
        "http://ex.com:80/a", // default -> stripped
        "https://ex.com:80/a", // NOT default under https -> kept
        "http://ex.com:443/a", // NOT default under http -> kept
        "https://ex.com:8080/a" // never default -> kept
      ) === Seq(
        "https://ex.com/a",
        "http://ex.com/a",
        "https://ex.com:80/a",
        "http://ex.com:443/a",
        "https://ex.com:8080/a"
      )
    )
  }

  test("empty path becomes /; fragment dropped") {
    assert(
      norm("https://ex.com", "https://ex.com#frag", "https://ex.com/a#x?notaquery") ===
        Seq("https://ex.com/", "https://ex.com/", "https://ex.com/a")
    )
  }

  test("tracking params dropped, remaining params sorted, empty query removed") {
    assert(
      norm(
        "https://ex.com/a?utm_source=x&b=2&a=1&gclid=g",
        "https://ex.com/a?utm_campaign=only",
        "https://ex.com/a?z=9&y=8#frag"
      ) === Seq(
        "https://ex.com/a?a=1&b=2",
        "https://ex.com/a",
        "https://ex.com/a?y=8&z=9"
      )
    )
  }

  test("userinfo preserved verbatim; host behind it still lowercased and matchable") {
    assert(
      norm(
        "HTTPS://user:PW@EX.com:443/a",
        "http://alice@Ex.Com/b?utm_source=x"
      ) === Seq(
        "https://user:PW@ex.com/a",
        "http://alice@ex.com/b"
      )
    )
    // domain extraction sees the real host, not the credentials
    val hosts = Seq("https://user:pw@sub.ex.com/a").toDF("u")
      .select(Urls.registeredDomain(Urls.hostOf(col("u")))).as[String].collect()
    assert(hosts === Array("ex.com"))
  }

  test("bracketed IPv6 literals: host kept whole, port rules still apply") {
    assert(
      norm(
        "https://[2001:DB8::1]:443/a",
        "http://[::1]:8080/x"
      ) === Seq(
        "https://[2001:db8::1]/a",
        "http://[::1]:8080/x"
      )
    )
  }

  test("resolveUrl: the RFC 3986 §5.4.1 normal examples") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q#s",
      "g#s" -> "http://a/b/c/g#s",
      "g?y#s" -> "http://a/b/c/g?y#s",
      ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y#s",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g"
    )
    val got = cases
      .map(_._1)
      .toDF("ref")
      .select(Urls.resolveUrl(lit(base), col("ref")).as("r"))
      .as[String]
      .collect()
      .toSeq
    assert(got === cases.map(_._2), cases.map(_._1).zip(got).toString)
  }

  test("resolveUrl: the RFC 3986 §5.4.2 abnormal examples") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "http:g" -> "http:g" // strict parser: ref with a scheme passes through
    )
    val got = cases
      .map(_._1)
      .toDF("ref")
      .select(Urls.resolveUrl(lit(base), col("ref")).as("r"))
      .as[String]
      .collect()
      .toSeq
    assert(got === cases.map(_._2), cases.map(_._1).zip(got).toString)
  }

  test("resolveUrl: absolute and network-path refs get remove_dot_segments too (§5.2.2)") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      // absolute refs: dot segments in their OWN path must canonicalize
      "http://h/a/../b" -> "http://h/b",
      "http://h/a/./b/../c?x=1#f" -> "http://h/a/c?x=1#f",
      "https://h:8443/x/.." -> "https://h:8443/",
      "http://h" -> "http://h", // empty path stays empty
      "http://h?q" -> "http://h?q",
      // network-path refs take the base scheme AND canonicalize
      "//h/a/../b" -> "http://a/b".replace("//a/", "//h/"), // http://h/b
      "//g" -> "http://g",
      // opaque scheme'd refs (no authority) pass verbatim
      "mailto:x..y@example.com" -> "mailto:x..y@example.com",
      "javascript:void(0)" -> "javascript:void(0)"
    )
    val got = cases
      .map(_._1)
      .toDF("ref")
      .select(Urls.resolveUrl(lit(base), col("ref")).as("r"))
      .as[String]
      .collect()
      .toSeq
    assert(got === cases.map(_._2), cases.map(_._1).zip(got).toString)
  }

  test("registeredDomainFrom: full PSL semantics — wildcard, exception, implicit *, suffix hosts") {
    val psl = Seq("com", "uk", "co.uk", "*.ck", "!www.ck").toDF("rule")
    val hosts = Seq(
      "example.com", "www.example.com", // plain rule
      "b.co.uk", "www.a.b.co.uk", // longest rule wins over 'uk'
      "www.ck", // exception: ps = ck, rd = www.ck
      "x.www.ck", // exception still prevails: rd = www.ck
      "foo.ck", // *.ck: host IS a public suffix -> null
      "sub.foo.ck", // *.ck: rd = sub.foo.ck
      "host.xyz", // no rule: implicit * -> rd = host.xyz
      "xyz", // bare unlisted TLD: IS a suffix -> null
      "com" // listed TLD: null
    ).toDF("host")
    val rd = Urls
      .registeredDomainFrom(hosts, psl)
      .as[(String, Option[String])]
      .collect()
      .toMap
    assert(rd("example.com") === Some("example.com"))
    assert(rd("www.example.com") === Some("example.com"))
    assert(rd("b.co.uk") === Some("b.co.uk"))
    assert(rd("www.a.b.co.uk") === Some("b.co.uk"))
    assert(rd("www.ck") === Some("www.ck"))
    assert(rd("x.www.ck") === Some("www.ck"))
    assert(rd("foo.ck") === None)
    assert(rd("sub.foo.ck") === Some("sub.foo.ck"))
    assert(rd("host.xyz") === Some("host.xyz"))
    assert(rd("xyz") === None)
    assert(rd("com") === None)
  }

  test("registered domain: eTLD+1, two-level suffixes, pass-throughs") {
    assert(
      dom("www.a.b.co.uk", "sub.ex.com", "ex.com", "co.uk", "localhost") ===
        Seq("b.co.uk", "ex.com", "ex.com", "co.uk", "localhost")
    )
  }

  test("normalization is idempotent on the fixture corpus") {
    val urls = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(Urls.dirtyUrl(col("doc_id"), col("source")).as("u"))
      .select(Urls.normalizeUrl(col("u")).as("n1"))
      .select(col("n1"), Urls.normalizeUrl(col("n1")).as("n2"))
    assert(urls.filter(col("n1") =!= col("n2")).count() === 0L)
  }

  test("native URL kernels bit-equal the Column reference formulations") {
    // the kernel (one expression node) must reproduce the Column-composed
    // rule chains on the fixture corpus AND the hostile shapes — this is
    // the contract that lets the frontier queries swap the mega-tree for
    // one kernel call without touching any oracle
    val hostile = Seq(
      "HTTPS://User:Pw@WWW.Ex.COM:443/A/b?b=2&a=1&utm_source=x#frag",
      "http://ex.com:8080", "https://[2001:DB8::1]:8443/x?z=1&y=2",
      "https://[2001:db8::1]:443/", "http://@ex.com/a", "Https://ex.com/a?#x?y",
      "ftp://Ex.Org:21/Dir/../f.txt", "http://ex.com/p/?&&",
      "http://ex.com/p?ref=a&REF=b&utm_x=1", "weird", "", "http://",
      "http://ex.com/a b/c#d e", "http://ex.com/%7Euser/./x/../y"
    )
    val fixture = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(Urls.dirtyUrl(col("doc_id"), col("source")).as("u"))
      .as[String]
      .collect()
      .toSeq
    val normBoth = (hostile ++ fixture)
      .toDF("u")
      .select(
        Urls.normalizeUrl(col("u")).as("k"),
        Urls.normalizeUrlCols(col("u")).as("c")
      )
    assert(normBoth.filter(!(col("k") <=> col("c"))).count() === 0L)

    val bases = Seq("http://a/b/c/d;p?q", "HTTPS://Ex.com:8080/x/y?q=1#f", "http://h")
    val refs = Seq(
      "g", "./g", "g/", "/g", "//g", "?y", "g?y", "#s", "g#s", "g?y#s", ";x",
      "g;x", "g;x?y#s", "", ".", "./", "..", "../", "../g", "../..", "../../",
      "../../g", "../../../g", "/./g", "/../g", "g.", ".g", "g..", "..g",
      "./../g", "./g/.", "g/./h", "g/../h", "g;x=1/./y", "g;x=1/../y",
      "http://other/a/../b?q#f", "//net/a/./b", "mailto:x@y", "javascript:void(0)"
    )
    val pairs = for (b <- bases; r <- refs) yield (b, r)
    val resBoth = pairs
      .toDF("b", "r")
      .select(
        Urls.resolveUrl(col("b"), col("r")).as("k"),
        Urls.resolveUrlCols(col("b"), col("r")).as("c")
      )
    assert(resBoth.filter(!(col("k") <=> col("c"))).count() === 0L)

    // and the nested frontier composition end to end
    val nested = pairs
      .toDF("b", "r")
      .select(
        Urls.normalizeUrl(Urls.resolveUrl(col("b"), col("r"))).as("k"),
        Urls.normalizeUrlCols(Urls.resolveUrlCols(col("b"), col("r"))).as("c")
      )
    assert(nested.filter(!(col("k") <=> col("c"))).count() === 0L)
  }

  test("resolveUrl null lanes: kernel mirrors the Column spec exactly") {
    // The bit-identity contract covers the NULL lanes too: a null base
    // must resolve an absolute ref ref-only and pass an opaque schemed
    // ref through (branches that never reference the base), and null
    // every base-referencing branch; a null ref is always null. The
    // kernel's BinaryExpression heritage would default to null-on-any-
    // null — this pins the explicit override against the Column spec so
    // a future nullable-base call site cannot silently change results.
    val refs = Seq(
      "http://other/a/../b?q#f", // absolute -> resolves ref-only
      "HTTPS://Ex.com/x/./y", // absolute, needs dot-segment removal
      "mailto:x@y", // opaque schemed -> verbatim
      "javascript:void(0)", // opaque schemed -> verbatim
      "//net/a/./b", // network-path: needs base scheme -> null
      "", "#s", "?y", "/g", "../g", "g" // base-referencing -> null
    )
    val pairs: Seq[(String, String)] =
      refs.map(r => (null: String, r)) :+ ((null: String, null: String)) :+
        (("http://a/b/c", null: String))
    val both = pairs
      .toDF("b", "r")
      .select(
        Urls.resolveUrl(col("b"), col("r")).as("k"),
        Urls.resolveUrlCols(col("b"), col("r")).as("c"),
        col("b"), col("r")
      )
    val diff = both.filter(!(col("k") <=> col("c"))).collect()
    assert(diff.isEmpty, diff.map(_.toString).mkString("\n"))
    // spot-pin the non-null null-base lanes so the grid can't go vacuous
    val byRef = both.collect().map(r => (Option(r.getString(3)), Option(r.getString(0)))).toMap
    assert(byRef(Some("http://other/a/../b?q#f")) === Some("http://other/b?q#f"))
    assert(byRef(Some("mailto:x@y")) === Some("mailto:x@y"))
    assert(byRef(Some("//net/a/./b")) === None)
    assert(byRef(Some("g")) === None)
    assert(byRef(None) === None)
  }

  test("URL kernels vs Column formulations: seeded structured fuzz (4k urls, 4k resolve pairs)") {
    // deterministic-seed generator covering the grammar's degrees of
    // freedom AND hostile mutations (unicode, percent-escapes, control
    // chars, doubled separators) — the fixed-vector cross-check's
    // breadth complement. Any kernel/Column divergence on ANY string is
    // a bug: the kernel's contract is bit-identity, not URL validity.
    val rnd = new scala.util.Random(0xC0FFEE)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def maybe(s: => String): String = if (rnd.nextBoolean()) s else ""
    def seg(): String = pick(Seq("a", "B", "..", ".", "p7", "%7E", "ü", "a b", "x&y", "#", "s3"))
    def genUrl(): String = {
      val scheme = pick(Seq("http", "HTTP", "https", "Https", "ftp", "a+b-c.d", ""))
      val user = maybe(pick(Seq("u:p", "U", "%40", "")) + "@")
      val host = pick(Seq("ex.com", "EX.Com", "[2001:DB8::1]", "[::1]", "a.b.co.uk", "x", ""))
      val port = maybe(":" + pick(Seq("80", "443", "8080", "0443", "")))
      val path = Seq.fill(rnd.nextInt(4))("/" + seg()).mkString + maybe("/")
      val params = Seq.fill(rnd.nextInt(4))(
        pick(Seq("a=1", "B=2", "utm_source=x", "gclid=1", "ref=t", "", "a=", "=b", "a=ü"))
      )
      val query = if (params.nonEmpty && rnd.nextBoolean()) "?" + params.mkString("&") else ""
      val frag = maybe("#" + pick(Seq("s", "s?x=1", "a#b", "")))
      val sep = if (scheme.isEmpty) "" else pick(Seq("://", ":", ""))
      scheme + sep + user + host + port + path + query + frag
    }
    def mutate(s: String): String =
      if (s.isEmpty || rnd.nextInt(4) > 0) s
      else {
        val i = rnd.nextInt(s.length)
        pick(Seq(
          s.substring(0, i) + pick(Seq("\n", "\t", "%", "??", "@@", "//", "べ")) + s.substring(i),
          s.substring(i) + s.substring(0, i),
          s.toUpperCase
        ))
      }
    val urls = Seq.fill(4000)(mutate(genUrl()))
    val normBoth = urls
      .toDF("u")
      .select(
        Urls.normalizeUrl(col("u")).as("k"),
        Urls.normalizeUrlCols(col("u")).as("c"),
        col("u")
      )
      .filter(!(col("k") <=> col("c")))
      .limit(5)
      .collect()
    assert(normBoth.isEmpty, normBoth.map(_.toString).mkString("\n"))

    def genRef(): String = mutate(pick(Seq(
      genUrl(), "", ".", "..", "../" + seg(), "./" + seg(), "//" + seg(),
      "?" + seg(), "#" + seg(), "/" + seg() + "/../" + seg(),
      "mailto:" + seg(), seg() + "/" + seg()
    )))
    val pairs = Seq.fill(4000)((genUrl(), genRef()))
    val resBoth = pairs
      .toDF("b", "r")
      .select(
        Urls.normalizeUrl(Urls.resolveUrl(col("b"), col("r"))).as("k"),
        Urls.normalizeUrlCols(Urls.resolveUrlCols(col("b"), col("r"))).as("c"),
        col("b"), col("r")
      )
      .filter(!(col("k") <=> col("c")))
      .limit(5)
      .collect()
    assert(resBoth.isEmpty, resBoth.map(_.toString).mkString("\n"))
  }

  test("fixture collides distinct docs onto shared canonical URLs (dedup non-vacuous)") {
    val groups = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(Urls.normalizeUrl(Urls.dirtyUrl(col("doc_id"), col("source"))).as("u"))
      .groupBy("u")
      .count()
    assert(groups.filter(col("count") > 1).count() > 0)
  }

  test("pageRank: exact fixed-point values on a handcrafted graph, one round") {
    // A→B, A→C, B→C, C→A; outdeg A=2, B=1, C=1. After one round from
    // r0 = 1e9 each: in-mass A = 1e9 (from C), B = 5e8 (A's half),
    // C = 1.5e9 (A's half + B), so
    //   A = 15e7 + 85e7            = 1000000000
    //   B = 15e7 + (85*5e8)//100   =  575000000
    //   C = 15e7 + (85*15e8)//100  = 1425000000
    // Duplicate edges and self-loops must not change this.
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"),
      ("A", "B"), // duplicate: dropped
      ("B", "B") // self-loop: dropped
    ).toDF("src", "dst")
    val r = graft.operators.LinkGraph
      .pageRank(edges, iters = 1)
      .as[(String, Long)]
      .collect()
      .toMap
    assert(r === Map("A" -> 1000000000L, "B" -> 575000000L, "C" -> 1425000000L))
  }

  test("pageRank: teleport-only floor for hosts with no in-links; total mass bounded") {
    // D only cites (no in-links): rank must settle at the teleport floor.
    val edges = Seq(("D", "A"), ("A", "B"), ("B", "A")).toDF("src", "dst")
    val r = graft.operators.LinkGraph
      .pageRank(edges, iters = 3)
      .as[(String, Long)]
      .collect()
      .toMap
    assert(r("D") === 150000000L)
    // floor division only ever loses mass: total ≤ N * RankScale
    assert(r.values.sum <= 3L * graft.operators.LinkGraph.RankScale)
  }

  test("pageRankConverged: a symmetric cycle is a fixed point — stops after one round") {
    // a<->b, both outdeg 1: every round reproduces RankScale exactly, so
    // the max delta is 0 after round 1 and the walk stops there
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = graft.operators.LinkGraph
      .pageRankConverged(edges, maxIters = 6, epsilonUnits = 1L)
      .as[(String, Long, Long)]
      .collect()
    assert(r.forall(_._3 === 1L), "fixed point must be detected at round 1")
    assert(r.map(_._2).toSet === Set(graft.operators.LinkGraph.RankScale))
  }

  test("pageRankConverged: dangling mass leaks") {
    import graft.operators.LinkGraph
    // c is DANGLING (no outlinks): the mass it absorbs vanishes instead of
    // flowing back to a and b
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    def ranks(maxIters: Int) = LinkGraph
      .pageRankConverged(edges, maxIters = maxIters, epsilonUnits = 1L)
      .as[(String, Long, Long)]
      .collect()
      .map(x => x._1 -> x._2)
      .toMap
    // one round from S each: a gets b's S, b and c split a's S; c forwards
    // nothing, so the total is 3S less c's damped S (0.85 * S)
    val s = LinkGraph.RankScale
    assert(ranks(1) === Map("a" -> s, "b" -> 575000000L, "c" -> 575000000L))
    assert(ranks(1).values.sum === 3L * s - 85L * s / 100L)
    // and the leak never reverses over further rounds
    assert(ranks(4).values.sum < 3L * s)
  }

  test("crawl budget: largest-remainder apportionment sums exactly and breaks ties by name") {
    import spark.implicits._
    import graft.operators.LinkGraph
    // ranks 3/3/4, budget 11: bases 3/3/4 (sum 10), remainders 3/3/4 ->
    // the single leftover slot goes to the largest remainder (c)
    val r1 = Seq(("a", 3L), ("b", 3L), ("c", 4L)).toDF("h", "rank")
    val a1 = LinkGraph
      .crawlBudget(r1, budget = 11L, shards = 2)
      .select(col("domain"), col("alloc"))
      .as[(String, Long)]
      .collect()
      .toMap
    assert(a1 === Map("a" -> 3L, "b" -> 3L, "c" -> 5L))
    // all-equal ranks, budget 2 of 3 hosts: remainder ties broken by
    // host name ascending -> a and b get the slots
    val r2 = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("h", "rank")
    val a2 = LinkGraph
      .crawlBudget(r2, budget = 2L, shards = 2)
      .select(col("domain"), col("alloc"))
      .as[(String, Long)]
      .collect()
      .toMap
    assert(a2 === Map("a" -> 1L, "b" -> 1L, "c" -> 0L))
    assert(a1.values.sum === 11L && a2.values.sum === 2L)
  }

  test("recrawl: changed-digest lane outranks identical/single-capture lanes; alloc-prefix scheduled") {
    import org.apache.spark.sql.functions._
    val rows = Registry
      .runners("u_recrawl")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (
        r.getAs[String]("domain"), r.getAs[String]("url"), r.getAs[Long]("n_caps"),
        r.getAs[Long]("changes"), r.getAs[Long]("rate_ppm"),
        r.getAs[Long]("alloc"), r.getAs[Long]("fetch_rank"), r.getAs[Boolean]("scheduled")
      ))
    def docId(u: String) = u.split("/doc/").last.toLong
    val example = rows.filter(_._2.startsWith("http://example.com/"))
    // changed re-captures (doc % 3 = 1): exactly one digest transition
    // over the 31-day span; identical re-captures (doc % 3 = 0) and
    // single captures: zero
    example.foreach { r =>
      val id = docId(r._2)
      if (id % 3 == 1) assert(r._4 == 1L && r._5 == 1000000L / 31, r.toString)
      else assert(r._4 == 0L && r._5 == 0L, r.toString)
    }
    // mirror captures are single-capture URLs: rate 0
    rows.filter(_._2.startsWith("http://mirror.")).foreach(r => assert(r._4 == 0L && r._5 == 0L))
    // scheduling: within each domain, scheduled == (fetch_rank <= alloc),
    // and every scheduled URL's rate >= every unscheduled URL's rate
    rows.groupBy(_._1).foreach { case (_, rs) =>
      rs.foreach(r => assert(r._8 == (r._7 <= r._6)))
      val (in, out) = rs.partition(_._8)
      if (in.nonEmpty && out.nonEmpty)
        assert(in.map(_._5).min >= out.map(_._5).max)
    }
    // both lanes really present
    assert(example.exists(_._4 == 1L) && example.exists(_._4 == 0L))
  }
}

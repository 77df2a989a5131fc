package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Crawl

/** Crawl-front URL canonicalization/dedup semantics (rule-by-rule) and
  * the paragraph-dedup preset. */
class CrawlSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def canon(url: String): String = {
    val s = spark
    import s.implicits._
    Seq(url).toDF("u")
      .select(Crawl.canonicalizeUrl(col("u")).as("c"))
      .collect()(0).getString(0)
  }

  test("canonicalizeUrl: every rule, one assertion each") {
    // scheme+host lowercased, path case preserved
    assert(canon("HTTP://ExAmPle.COM/Path/X") == "http://example.com/Path/X")
    // www. stripped
    assert(canon("http://www.example.com/a") == "http://example.com/a")
    // default ports stripped per scheme; non-default kept
    assert(canon("http://example.com:80/a") == "http://example.com/a")
    assert(canon("https://example.com:443/a") == "https://example.com/a")
    assert(canon("http://example.com:8080/a") == "http://example.com:8080/a")
    // https does NOT strip :80 (not its default)
    assert(canon("https://example.com:80/a") == "https://example.com:80/a")
    // fragment dropped
    assert(canon("http://example.com/a#frag") == "http://example.com/a")
    // trailing slash + index.html equivalences — a FIXPOINT: any
    // trailing run of /index.html and / tokens drops in one pass
    // (property-pinned idempotent in PropertySpec)
    assert(canon("http://example.com/a/") == "http://example.com/a")
    assert(canon("http://example.com/a/index.html") == "http://example.com/a")
    assert(canon("http://example.com/a/index.html/") == "http://example.com/a")
    assert(canon("http://example.com/index.html/index.html") == "http://example.com")
    assert(canon("http://example.com/") == "http://example.com")
    // query keys sorted; empty + utm_* params dropped; emptied ? dropped
    assert(canon("http://example.com/a?b=2&a=1") == "http://example.com/a?a=1&b=2")
    assert(canon("http://example.com/a?utm_source=x&id=3") == "http://example.com/a?id=3")
    assert(canon("http://example.com/a?utm_source=x") == "http://example.com/a")
    assert(canon("http://example.com/a?&&id=1") == "http://example.com/a?id=1")
    // malformed input: stable lowercased identity, never null/error
    assert(canon("not a url") == "not a url")
    // index.html only trims as a path SUFFIX
    assert(canon("http://example.com/index.html/a") == "http://example.com/index.html/a")
  }

  test("urlDedup keeps the best fetch per canonical URL") {
    val s = spark
    import s.implicits._
    val fetches = Seq(
      (1L, "HTTP://WWW.X.COM:80/p/?utm_source=a", 100L),
      (2L, "http://x.com/p", 400L), // same page, biggest fetch: wins
      (3L, "http://x.com/p/index.html#top", 400L), // ties on size: id 2 wins
      (4L, "http://x.com/q", 50L)) // different page: survives
      .toDF("doc_id", "url", "n_chars")
    val kept = Crawl.urlDedup(
      fetches, "url", Seq(col("n_chars").desc, col("doc_id")))
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((2L, "http://x.com/p"), (4L, "http://x.com/q")))
  }

  test("hostReport aggregates fetches vs distinct canonical pages") {
    val s = spark
    import s.implicits._
    val fetches = Seq(
      (1L, "http://a.com/p"), (2L, "http://a.com/p/"), (3L, "http://a.com/q"),
      (4L, "http://b.com/r"))
      .toDF("doc_id", "url")
    val rows = Crawl.hostReport(fetches, "url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows == Set(("a.com", 3L, 2L, 0.333333), ("b.com", 1L, 1L, 0.0)))
  }

  test("registeredDomain: two-label default, registry second-level gets three") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "a3.example.com" -> "example.com",
      "news.site2.co.uk" -> "site2.co.uk",
      "deep.sub.site.com.au" -> "site.com.au",
      "site4.org" -> "site4.org",
      "b.ac.jp" -> "b.ac.jp",
      "localhost" -> "localhost")
    val out = cases.map(_._1).toDF("h")
      .select(col("h"), Crawl.registeredDomain(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) =>
      assert(out(h) == want, s"registeredDomain($h)")
    }
  }

  test("domainReport rolls hosts up to eTLD+1 without a distinct funnel") {
    val s = spark
    import s.implicits._
    val fetches = Seq(
      (1L, "http://a.example.com/1"), (2L, "http://a.example.com/1/"),
      (3L, "http://b.example.com/2"), (4L, "http://x.site.co.uk/3"))
      .toDF("doc_id", "url")
    val rows = Crawl.domainReport(fetches, "url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // a.example.com: 2 fetches 1 page; b.example.com: 1/1 -> example.com
    // rolls to 2 hosts, 3 fetches, 2 pages.
    assert(rows == Set(
      ("example.com", 2L, 3L, 2L), ("site.co.uk", 1L, 1L, 1L)))
  }

  test("extendMinHashBandIndex: probing the extended index == probing a rebuilt one") {
    val s = spark
    import s.implicits._
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different words entirely here now today"))
      .toDF("doc_id", "text")
    val accepted = Seq(
      (200L, "a newly accepted document with its own words"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a newly accepted document with its own words"),
      (3L, "nothing like anything indexed before at all"))
      .toDF("doc_id", "text")
    val extended = operators.Dedup.extendMinHashBandIndex(
      operators.Dedup.buildMinHashBandIndex(ref, "doc_id", "text"),
      accepted, "doc_id", "text")
    val rebuilt = operators.Dedup.buildMinHashBandIndex(
      ref.unionByName(accepted), "doc_id", "text")
    def pairs(ix: org.apache.spark.sql.DataFrame) =
      operators.Dedup.minHashPairsAgainstIndex(probe, ix, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = pairs(extended)
    assert(a == pairs(rebuilt), "append must equal rebuild")
    assert(a.contains((1L, 100L)) && a.contains((2L, 200L)),
      s"copies of both the original AND the appended doc must hit: $a")
    assert(!a.exists(_._1 == 3L), "the novel doc must not hit")
  }

  test("robotsFilter: longest prefix wins, allow beats equal-length deny, default allow") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "http://x.com/private/a"), // deny via /private/
      (2L, "http://x.com/private/public/a"), // longer allow overrides
      (3L, "http://x.com/open/a"), // no rule matches: default allow
      (4L, "http://x.com/tie/a"), // equal-length allow+deny: allow wins
      (5L, "http://Y.com/private/a")) // no rules for this host at all
      .toDF("doc_id", "url")
    val rules = Seq(
      ("x.com", "/private/", false),
      ("x.com", "/private/public/", true),
      ("x.com", "/tie/", true),
      ("x.com", "/tie/", false)).toDF("host", "prefix", "allow")
    val out = Crawl.robotsFilter(urls, "url", "doc_id", rules)
    val byId = out.collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) -> ((
        r.getBoolean(r.fieldIndex("allowed")),
        if (r.isNullAt(r.fieldIndex("matched_len"))) -1
        else r.getInt(r.fieldIndex("matched_len"))))
    }.toMap
    assert(byId == Map(
      1L -> ((false, 9)), // "/private/".length
      2L -> ((true, 16)), // "/private/public/".length
      3L -> ((true, -1)), // no match
      4L -> ((true, 5)), // "/tie/".length, REP tie rule
      5L -> ((true, -1))))
    // the rule table must broadcast, never shuffle
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("frontierPlan: per-host cap, priority order, delay spacing, default delay") {
    val s = spark
    import s.implicits._
    val frontier = Seq(
      ("http://a.com/1", 10.0), ("http://a.com/2", 30.0),
      ("http://a.com/3", 20.0), ("http://a.com/4", 5.0),
      ("http://b.com/1", 1.0)).toDF("url", "pri")
    val policy = Seq(("a.com", 2.0)).toDF("host", "delay_s")
    val out = Crawl.frontierPlan(
      frontier, "url", "pri", policy, defaultDelayS = 7.0, maxPerHost = 3)
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) -> ((
        r.getLong(r.fieldIndex("rank")),
        r.getDouble(r.fieldIndex("delay_s")),
        r.getDouble(r.fieldIndex("fetch_at_s"))))
    }.toMap
    // a.com capped at its 3 best-priority URLs (pri 5.0 dropped),
    // slots spaced by the 2 s policy delay; b.com takes the default.
    assert(rows == Map(
      "http://a.com/2" -> ((1L, 2.0, 0.0)),
      "http://a.com/3" -> ((2L, 2.0, 2.0)),
      "http://a.com/1" -> ((3L, 2.0, 4.0)),
      "http://b.com/1" -> ((1L, 7.0, 0.0))))
    // the cap must run as partial-then-final GroupedTopK (a mega-host
    // never funnels its whole queue through one task pre-cap)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopKExec(partial")
      && p.contains("GroupedTopKExec(final"), p.take(2000))
  }

  test("urlTemplateReport: digit runs collapse, trap flag on the URL explosion") {
    val s = spark
    import s.implicits._
    val urls = (
      (1 to 30).map(i => s"http://x.com/cal/2026/$i") ++ // 30 URLs, 1 template
        Seq("http://x.com/about", "http://x.com/about", // refetch: 1 URL
          "http://y.com/item/7", "http://y.com/item/12")).toDF("url")
    val out = Crawl.urlTemplateReport(urls, "url", maxUrlsPerTemplate = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(("x.com", "/cal/N/N")) == ((30L, 30L, true)))
    assert(out(("x.com", "/about")) == ((2L, 1L, false)))
    assert(out(("y.com", "/item/N")) == ((2L, 2L, false)))
  }

  test("mirrorHosts: shared-content pairs, boilerplate cut by maxDf") {
    val s = spark
    import s.implicits._
    val boiler = "404 not found"
    val fetches = (
      Seq("a.com" -> "page one", "a.com" -> "page two", "a.com" -> "page three",
        "b.com" -> "page one", "b.com" -> "page two", "b.com" -> "page three",
        "c.com" -> "page one", // one shared doc: below minShared
        "b.com" -> "page one") ++ // duplicate fetch: distinct'd, not double-counted
        Seq("a.com", "b.com", "c.com", "d.com", "e.com", "f.com")
          .map(_ -> boiler)) // boilerplate on 6 hosts > maxDf: excluded
      .toDF("host", "text")
    val out = Crawl.mirrorHosts(fetches, "host", "text", maxDf = 4, minShared = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a.com", "b.com", 3L)),
      s"only the a/b mirror pair qualifies: ${out.mkString(",")}")
  }

  test("mirrorClusters: transitive closure elects one canonical host per set") {
    val s = spark
    import s.implicits._
    // a=b (3 shared), b=c (3 shared), a/c share nothing directly:
    // transitivity must still put all three in one cluster under 'a'.
    val fetches = (
      Seq("a", "b").flatMap(h => Seq(h -> "x1", h -> "x2", h -> "x3")) ++
        Seq("b", "c").flatMap(h => Seq(h -> "y1", h -> "y2", h -> "y3")) ++
        Seq("d" -> "solo")).toDF("host", "text")
    val out = Crawl.mirrorClusters(fetches, "host", "text", 4, 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
  }

  test("mirrorClustersIncremental == full rebuild (incl. cross-cluster merge)") {
    val s = spark
    import s.implicits._
    // Prior evidence: {a,b} one cluster, {c,d} another, e/f singletons.
    val priorPairs = Seq(("a", "b"), ("c", "d")).toDF("id_a", "id_b")
    val allHosts0 = Seq("a", "b", "c", "d", "e", "f").toDF("doc_id")
    val prior = graft.operators.Dedup
      .nearDupComponents(allHosts0, priorPairs)
      .select(col("doc_id").as("host"), col("rep").as("canonical_host"))
    // New evidence: b~c MERGES the two prior clusters; e~g attaches a
    // BRAND-NEW host to a prior singleton; f stays untouched.
    val newPairs = Seq(("b", "c"), ("e", "g")).toDF("host_a", "host_b")
    val hosts = Seq("a", "b", "c", "d", "e", "f", "g").toDF("host")
    val inc = Crawl.mirrorClustersIncremental(hosts, prior, newPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Full rebuild over priorPairs ∪ newPairs on the same universe.
    val full = graft.operators.Dedup
      .nearDupComponents(
        hosts.select(col("host").as("doc_id")),
        priorPairs.unionByName(
          newPairs.select(col("host_a").as("id_a"), col("host_b").as("id_b"))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inc == full, s"incremental $inc vs full $full")
    assert(inc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "f", "g" -> "e"))
  }

  test("parseRobots: groups, agent selection, comments, empty Disallow") {
    val s = spark
    import s.implicits._
    val bodies = Seq(
      // Exact-agent group beats *, comment line ignored.
      ("a.com", "# hi\nUser-agent: graftbot\nDisallow: /p/\nAllow: /p/pub\n\nUser-agent: *\nDisallow: /"),
      // Star group only; trailing comment strips; lowercase field names.
      ("b.com", "User-Agent: *\nDisallow: /tmp/ # no fetch\nallow: /tmp/ok"),
      // Empty Disallow in the exact group: allow-all, and the exact
      // group still SHADOWS the star group.
      ("c.com", "User-agent: graftbot\nDisallow:\nUser-agent: *\nDisallow: /"),
      // Multi-UA group (comment interleaved) owns the rules; unknown
      // fields ignored.
      ("d.com", "User-agent: helper\n# x\nUser-agent: graftbot\nDisallow: /cgi/\nCrawl-delay: 10"),
      // Only an unrelated agent: no rules at all.
      ("e.com", "User-agent: other\nDisallow: /")
    ).toDF("host", "body")
    val out = Crawl.parseRobots(bodies, "host", "body", "graftbot")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSet
    assert(out == Set(
      ("a.com", "/p/", false), ("a.com", "/p/pub", true),
      ("b.com", "/tmp/", false), ("b.com", "/tmp/ok", true),
      ("d.com", "/cgi/", false)), out.toString)
    // The parsed table slots straight into the verdict fold: graftbot
    // may fetch a.com/p/pub but not a.com/p/x.
    val rules = Crawl.robotsRulesPerHost(
      Crawl.parseRobots(bodies, "host", "body", "graftbot"))
    val urls = Seq(
      (1L, "http://a.com/p/pub"), (2L, "http://a.com/p/x"),
      (3L, "http://c.com/anything")).toDF("doc_id", "url")
    val gated = Crawl.robotsFilter(urls, "url", "doc_id",
        Crawl.parseRobots(bodies, "host", "body", "graftbot"))
      .select(col("doc_id"), col("allowed"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(gated == Map(1L -> true, 2L -> false, 3L -> true), gated.toString)
    assert(rules.count() == 3) // a, b, d carry rules
    // Crawl-delay follows the SAME group selection: a star-group delay
    // shadowed by an exact group must not apply; invalid values drop.
    val delayBodies = Seq(
      ("a.com", "User-agent: graftbot\nDisallow: /p/\nCrawl-delay: 3\n\nUser-agent: *\nCrawl-delay: 99"),
      ("b.com", "User-agent: *\nCrawl-delay: 2.5\nCrawl-delay: 7"),
      ("c.com", "User-agent: *\nCrawl-delay: soon")
    ).toDF("host", "body")
    // Several selected delay lines take the MAX (politeness-preserving
    // — the min would be the most aggressive crawl rate): b.com 2.5/7
    // folds to 7.
    val delays = Crawl.parseCrawlDelay(delayBodies, "host", "body", "graftbot")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(delays == Map("a.com" -> 3.0, "b.com" -> 7.0), delays.toString)
  }

  test("stateless robots fold == relational robotsFilter, rule for rule") {
    val s = spark
    import s.implicits._
    // The q_robots_filter fixture shapes: longest-match, equal-length
    // allow-beats-deny tie, deny-all-except, no-rule default.
    val urls = (0L to 39L).map { i =>
      val path = (i % 4) match {
        case 0 => s"/private/p$i"
        case 1 => s"/private/public/p$i"
        case 2 => s"/public/p$i"
        case _ => s"/p$i"
      }
      (i, s"http://site${i % 5}.example.com$path")
    }.toDF("doc_id", "url")
    val rules = (
      (0 to 4).flatMap(i => Seq(
        (s"site$i.example.com", "/private/", false),
        (s"site$i.example.com", "/private/public/", true))) ++
        Seq(("site0.example.com", "/", false),
          ("site0.example.com", "/public/", true),
          ("site1.example.com", "/p", true),
          ("site1.example.com", "/p", false))
      ).toDF("host", "prefix", "allow")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "allowed", "matched_len").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2))))).toMap
    val batch = verdicts(Crawl.robotsFilter(urls, "url", "doc_id", rules))
    val folded = verdicts(graft.streaming.Streaming.robotsGateStream(
      urls, Crawl.robotsRulesPerHost(rules)))
    assert(folded == batch,
      "the stream gate's stateless fold must match the relational verdict")
  }

  test("RFC 9309 wildcards: * spans chars, trailing $ anchors, literal-length ranks") {
    val s = spark
    import s.implicits._
    val rules = Seq(
      ("w.com", "/*?session=", false),    // litlen 10
      ("w.com", "/*?session=pub", true),  // litlen 13 — outranks the deny
      ("w.com", "/*.pdf$", false),        // litlen 5, end-anchored
      ("w.com", "/p*te", false),          // litlen 4 — star mid-pattern
      ("w.com", "/a$b/", false),          // mid-pattern $ is LITERAL
      ("w.com", "/q(1)", false)           // regex metachars escape
    ).toDF("host", "prefix", "allow")
    val urls = Seq(
      (1L, "http://w.com/d/5?session=5"),    // *?session= deny
      (2L, "http://w.com/d/5?session=pub"),  // longer-literal allow wins
      (3L, "http://w.com/doc.pdf"),          // end-anchored deny
      (4L, "http://w.com/doc.pdfx"),         // $ honored -> no match -> allow
      (5L, "http://w.com/private/site"),     // /p*te spans chars
      (6L, "http://w.com/pte-not"),          // ...and matches adjacent too
      (7L, "http://w.com/a$b/x"),            // literal mid-$ matches
      (8L, "http://w.com/q(1)x"),            // escaped metachars match
      (9L, "http://w.com/free")              // no rule -> default allow
    ).toDF("doc_id", "url")
    val out = Crawl.robotsFilter(urls, "url", "doc_id", rules)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getBoolean(r.fieldIndex("allowed"))).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> false, 7L -> false, 8L -> false, 9L -> true),
      out.toString)
    // `/p*` must NOT outrank `/page` on raw length: specificity counts
    // literal octets only.
    val rank = Seq(("r.com", "/pa*", false), ("r.com", "/page", true))
      .toDF("host", "prefix", "allow")
    val got = Crawl.robotsFilter(
        Seq((1L, "http://r.com/page/x")).toDF("doc_id", "url"),
        "url", "doc_id", rank)
      .collect().map(r => (r.getBoolean(r.fieldIndex("allowed")),
        r.getInt(r.fieldIndex("matched_len")))).head
    assert(got == ((true, 5)), got.toString)
    // And the stateless fold agrees on every wildcard shape.
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "allowed").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val folded = verdicts(graft.streaming.Streaming.robotsGateStream(
      urls, Crawl.robotsRulesPerHost(rules)))
    assert(folded == out,
      "stateless wildcard fold must match the relational verdict")
  }

  test("CRLF robots bodies parse clean: no trailing \\r in any value") {
    val s = spark
    import s.implicits._
    val bodies = Seq(("crlf.com",
      "User-agent: graftbot\r\nDisallow: /private/\r\nAllow: /private/pub\r\nCrawl-delay: 3\r\nSitemap: http://crlf.com/sm.xml"
    )).toDF("host", "body")
    val rules = Crawl.parseRobots(bodies, "host", "body", "graftbot")
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(rules == Set(("/private/", false), ("/private/pub", true)),
      rules.toString)
    val delay = Crawl.parseCrawlDelay(bodies, "host", "body", "graftbot")
      .collect().map(_.getDouble(1)).toSeq
    assert(delay == Seq(3.0), delay.toString)
    val sm = Crawl.parseSitemaps(bodies, "host", "body")
      .collect().map(_.getString(1)).toSeq
    assert(sm == Seq("http://crlf.com/sm.xml"), sm.toString)
    // The parsed rules must actually GATE (a stray \r would turn the
    // prefix into a dead literal).
    val gated = Crawl.robotsFilter(
        Seq((1L, "http://crlf.com/private/x")).toDF("doc_id", "url"),
        "url", "doc_id",
        Crawl.parseRobots(bodies, "host", "body", "graftbot"))
      .collect().map(r => r.getBoolean(r.fieldIndex("allowed"))).head
    assert(!gated, "CRLF-parsed Disallow must deny")
  }

  test("frontierPlanSeeded: sitemap seeds join the schedule first, no new exchange") {
    val s = spark
    import s.implicits._
    val bodies = Seq(
      ("a.com", "User-agent: *\nDisallow: /x/\nSitemap: http://a.com/sm.xml\nSitemap: http://a.com/sm2.xml"),
      ("b.com", "User-agent: *\nCrawl-delay: 2")
    ).toDF("host", "body")
    val cand = Seq(
      ("http://a.com/p/1", 30.0), ("http://a.com/p/2", 20.0),
      ("http://b.com/p/1", 10.0)).toDF("url", "pri")
    val policy = Crawl.parseCrawlDelay(bodies, "host", "body", "graftbot")
    val out = Crawl.frontierPlanSeeded(cand, "url", "pri",
      bodies, "host", "body", policy,
      defaultDelayS = 9.0, maxPerHost = 10, seedPriority = 1e6)
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) ->
        ((r.getLong(r.fieldIndex("rank")), r.getDouble(r.fieldIndex("delay_s"))))
    }.toMap
    // Seeds outrank every organic candidate on their host; b.com's
    // parsed crawl-delay spaces its queue; a.com takes the default.
    assert(rows == Map(
      "http://a.com/sm.xml" -> ((1L, 9.0)),
      "http://a.com/sm2.xml" -> ((2L, 9.0)),
      "http://a.com/p/1" -> ((3L, 9.0)),
      "http://a.com/p/2" -> ((4L, 9.0)),
      "http://b.com/p/1" -> ((1L, 2.0))), rows.toString)
    // Scale pin: seeding adds NO exchange to the candidate lineage —
    // the priority-carrying shuffle count equals plain frontierPlan's
    // on the same candidates (the sitemap distinct shuffles only the
    // small parse side, which never carries priority).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def priShuffles(df: org.apache.spark.sql.DataFrame) =
      PlanCheck.nodes(df).collect {
        case e: ShuffleExchangeLike
          if e.child.output.exists(_.name == "priority") => e
      }.size
    val plain = Crawl.frontierPlan(
      cand.select(col("url"), col("pri").as("priority")),
      "url", "priority", policy, 9.0, 10)
    assert(priShuffles(out) == priShuffles(plain),
      "seeding must not add a candidate-side exchange")
  }

  test("frontierPlanGated: robots-denied and trap URLs never reach the schedule") {
    val s = spark
    import s.implicits._
    val cand = Seq(
      ("http://a.com/private/x", 50.0), // robots-denied
      ("http://a.com/cal/2026/5", 40.0), // lands in a mined trap cell
      ("http://a.com/ok/1", 10.0),
      ("http://a.com/ok/2", 30.0),
      ("http://b.com/ok/9", 1.0)) // host with no rules, no traps
      .toDF("url", "pri")
    val rules = Seq(("a.com", "/private/", false)).toDF("host", "prefix", "allow")
    val fetchLog = ((1 to 30).map(i => s"http://a.com/cal/2026/$i") ++
      Seq("http://a.com/about")).toDF("url")
    val policy = Seq(("a.com", 2.0)).toDF("host", "delay_s")
    val out = Crawl.frontierPlanGated(cand, "url", "pri", rules,
      fetchLog, "url", policy, defaultDelayS = 7.0, maxPerHost = 3,
      maxUrlsPerTemplate = 10)
    // Plan pin FIRST — after collect() AQE swaps exchanges for
    // materialized query-stage leaves and the shuffle is invisible.
    // The CANDIDATE side must cross exactly one exchange (the
    // schedule's bounded top-k) — both gates are broadcast joins, and
    // only the candidate lineage carries `priority`.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val candExchanges = PlanCheck.nodes(out).collect {
      case e: ShuffleExchangeLike
        if e.child.output.exists(_.name == "priority") => e
    }
    assert(candExchanges.size == 1,
      s"candidate side must shuffle exactly once, saw ${candExchanges.size}")
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) -> ((
        r.getLong(r.fieldIndex("rank")),
        r.getDouble(r.fieldIndex("fetch_at_s"))))
    }.toMap
    assert(rows == Map(
      "http://a.com/ok/2" -> ((1L, 0.0)),
      "http://a.com/ok/1" -> ((2L, 2.0)),
      "http://b.com/ok/9" -> ((1L, 0.0))),
      s"gated schedule: $rows")
  }

  test("frontierFromScheduleGated: disallowed/trap URLs never schedule; stale hosts route to the robots lane") {
    val s = spark
    import s.implicits._
    val sched = Seq(
      ("http://fresh.com/ok", 100.0),        // due, passes both gates
      ("http://fresh.com/private/x", 50.0),  // due but robots-DENIED
      ("http://fresh.com/trap/7", 60.0),     // due but in a mined trap cell
      ("http://fresh.com/future", 10000.0),  // not due
      ("http://stale.com/a", 100.0),         // due, stale robots
      ("http://stale.com/b", 40.0),          // due, stale robots, MOST overdue
      ("https://never.com/x", 700.0))        // due, robots never fetched
      .toDF("url", "next_fetch_at_s")
    val rules = Seq(("fresh.com", "/private/", false))
      .toDF("host", "prefix", "allow")
    val fetchLog = (1 to 25).map(i => s"http://fresh.com/trap/$i")
      .toDF("url")
    val robotsLog = Seq(
      ("fresh.com", 900.0),     // age 100 s at now=1000: fresh
      ("stale.com", -90000.0))  // age 91 000 s: past the 86 400 s TTL
      .toDF("host", "ts")
    val policy = Seq(("stale.com", 3.0)).toDF("host", "delay_s")
    val out = Crawl.frontierFromScheduleGated(sched, "url",
      "next_fetch_at_s", nowS = 1000.0, rules, fetchLog, "url",
      robotsLog, "host", "ts", policy, defaultDelayS = 5.0,
      maxPerHost = 10, maxUrlsPerTemplate = 20)
    // Plan pins FIRST (AQE materializes stages after collect). The
    // candidate lineage (the only side that carries `priority` into
    // an exchange) crosses exactly ONE shuffle — the schedule's
    // bounded top-k: freshness/rules/trap gates are all broadcast,
    // and the robots lane's stale-subset host aggregation exchanges
    // only its partial-agg buffer (the gate-side aggs shuffle their
    // own small per-host inputs, as in the frontierPlanGated pin).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val candExchanges = PlanCheck.nodes(out).collect {
      case e: ShuffleExchangeLike
        if e.child.output.exists(_.name == "priority") => e
    }
    assert(candExchanges.size == 1,
      s"candidate side must shuffle exactly once, saw $candExchanges")
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) -> ((
        r.getDouble(r.fieldIndex("priority")),
        r.getLong(r.fieldIndex("rank")),
        r.getDouble(r.fieldIndex("delay_s")),
        r.getDouble(r.fieldIndex("fetch_at_s")),
        r.getString(r.fieldIndex("lane"))))
    }.toMap
    assert(rows.keySet == Set("http://fresh.com/ok",
      "http://stale.com/robots.txt", "https://never.com/robots.txt"),
      s"disallowed, trap, not-due and stale-host content must all be " +
        s"absent: ${rows.keySet}")
    assert(rows("http://fresh.com/ok") ==
      ((900.0, 1L, 5.0, 0.0, "content")), rows.toString)
    // the stale host's queue collapses to ONE robots refetch at its
    // PEAK overdueness (960 from /b, not 900 from /a), on the host's
    // own politeness delay
    assert(rows("http://stale.com/robots.txt") ==
      ((960.0, 1L, 3.0, 0.0, "robots")), rows.toString)
    // never-fetched host: stale by definition; scheme inherited from
    // its most overdue URL
    assert(rows("https://never.com/robots.txt") ==
      ((300.0, 1L, 5.0, 0.0, "robots")), rows.toString)
  }

  test("frontierFromScheduleGated: stale host on a non-default port refetches robots.txt on that port") {
    val s = spark
    import s.implicits._
    // ported.com serves on :8080 (canonicalizeUrl keeps non-default
    // ports; urlHost strips them, so the host key is 'ported.com') and
    // was never robots-fetched — its refetch candidate must carry the
    // port, or the fetch hits the wrong authority.
    val sched = Seq(
      ("http://ported.com:8080/a", 100.0),
      ("http://ported.com:8080/b", 40.0)).toDF("url", "next_fetch_at_s")
    val none = Seq.empty[(String, Double)].toDF("host", "ts")
    val out = Crawl.frontierFromScheduleGated(sched, "url",
      "next_fetch_at_s", nowS = 1000.0,
      Seq.empty[(String, String, Boolean)].toDF("host", "prefix", "allow"),
      Seq.empty[String].toDF("url"), "url",
      none, "host", "ts",
      none.select(col("host"), col("ts").as("delay_s")),
      defaultDelayS = 5.0, maxPerHost = 10, maxUrlsPerTemplate = 20)
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) -> ((
        r.getDouble(r.fieldIndex("priority")),
        r.getString(r.fieldIndex("lane"))))
    }.toMap
    assert(rows == Map(
      "http://ported.com:8080/robots.txt" -> ((960.0, "robots"))),
      s"ported robots candidate: $rows")
  }

  test("hostQuality: null verdicts fail everywhere; pass_mass sums passing docs only") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a.com", Some(true), 100L),
      ("a.com", Some(false), 70L),
      ("a.com", None, 30L),      // unmeasurable: fails rate AND mass
      ("b.com", Some(false), 50L))
      .toDF("host", "pass", "mass")
    val frame = Crawl.hostQuality(docs, "host", col("pass"), col("mass"))
    // plan pin FIRST (AQE materializes stages after collect): the
    // rollup is ONE partial-aggregating exchange on the host key —
    // no distinct-aggregate funnel, nothing else shuffles
    assert(PlanCheck.shuffles(frame).size == 1,
      "hostQuality must shuffle exactly once, on the host key")
    val out = frame
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out == Map(
      "a.com" -> ((3L, 1L, 0.333333, 100L)),
      "b.com" -> ((1L, 0L, 0.0, 0L))), s"census: $out")
  }

  test("hostFetchBudget: Hamilton seats sum exactly to the budget; zero-mass hosts get none") {
    val s = spark
    import s.implicits._
    // 7 slots across masses 5/3/1 (no exact division anywhere) + an
    // all-fail host: quota 35/9=3.889 -> 4 by remainder, 21/9=2.333 ->
    // 2, 7/9=0.778 -> 1; d.com is absent, not zero.
    val census = Seq(
      ("a.com", 5L), ("b.com", 3L), ("c.com", 1L), ("d.com", 0L))
      .toDF("host", "pass_mass")
    val out = Crawl.hostFetchBudget(census, budget = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a.com" -> 4L, "b.com" -> 2L, "c.com" -> 1L),
      s"seats: $out")
    assert(out.values.sum == 7L, "allocations must sum exactly to the budget")
    // remainder tie: equal weights, 3 slots over 2 hosts -> the extra
    // seat goes to the LESSER key (rem desc, host asc) — deterministic
    val tie = Crawl.hostFetchBudget(
      Seq(("x.com", 2L), ("w.com", 2L)).toDF("host", "pass_mass"),
      budget = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tie == Map("w.com" -> 2L, "x.com" -> 1L), s"tie seats: $tie")
  }

  test("frontierPlanBudgeted: each host schedules exactly its allocation; " +
    "unallocated hosts schedule nothing") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      ("http://a.com/1", 9.0), ("http://a.com/2", 8.0),
      ("http://a.com/3", 7.0), // over a.com's 2 seats: cut
      ("http://b.com/1", 9.0), ("http://b.com/2", 5.0), // seat 1: cut
      ("http://c.com/1", 9.0), // alloc 0: nothing schedules
      ("http://d.com/1", 9.0), // no allocation row: nothing schedules
      // e.com's GRANT (99) exceeds the physical bound (10): the row
      // must report the EFFECTIVE cap, not seats the wave can't take
      ("http://e.com/1", 9.0))
      .toDF("url", "priority")
    val allocs = Seq(
      ("a.com", 2L), ("b.com", 1L), ("c.com", 0L), ("e.com", 99L))
      .toDF("host", "alloc")
    val policy = Seq(("a.com", 2.0)).toDF("host", "delay_s")
    val out = Crawl.frontierPlanBudgeted(
      cands, "url", "priority", allocs, policy,
      defaultDelayS = 5.0, maxPerHost = 10)
    // plan pin FIRST: the candidate lineage crosses exactly ONE
    // exchange (the bounded top-k); the allocation and policy sides
    // broadcast, and the rank window reuses the top-k partitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val candExchanges = PlanCheck.nodes(out).collect {
      case e: ShuffleExchangeLike
        if e.child.output.exists(_.name == "priority") => e
    }
    assert(candExchanges.size == 1,
      s"candidate side must shuffle exactly once, saw $candExchanges")
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) -> ((
        r.getLong(r.fieldIndex("alloc")),
        r.getLong(r.fieldIndex("rank")),
        r.getDouble(r.fieldIndex("delay_s")),
        r.getDouble(r.fieldIndex("fetch_at_s"))))
    }.toMap
    assert(rows == Map(
      "http://a.com/1" -> ((2L, 1L, 2.0, 0.0)),
      "http://a.com/2" -> ((2L, 2L, 2.0, 2.0)),
      "http://b.com/1" -> ((1L, 1L, 5.0, 0.0)),
      "http://e.com/1" -> ((10L, 1L, 5.0, 0.0))), // clamped grant
      s"budgeted schedule: $rows")
  }

  test("mirrorAwareUrlDedup: mirrored copies collapse to one survivor") {
    val s = spark
    import s.implicits._
    val hostMap = Seq(
      ("a.com", "a.com"), ("b.com", "a.com")) // b mirrors a
      .toDF("host", "canonical_host")
    val fetches = Seq(
      (1L, "http://a.com/p/1"),
      (2L, "http://b.com/p/1"), // same page via the mirror
      (3L, "http://b.com/p/2"), // mirror-only page: still kept (rewritten)
      (4L, "http://d.com/p/9")) // host absent from the map: identity
      .toDF("id", "url")
    val out = Crawl.mirrorAwareUrlDedup(
        fetches, "url", hostMap, Seq(col("url").asc))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "http://a.com/p/1", "http://a.com/p/1"), // a-copy wins (url asc)
      (3L, "http://b.com/p/2", "http://a.com/p/2"),
      (4L, "http://d.com/p/9", "http://d.com/p/9")),
      s"survivors: ${out.mkString(",")}")
  }

  test("repMatches + urlPathQuery: RFC 9309 corners, root-query default") {
    val s = spark
    import s.implicits._
    def m(target: String, pat: String): Boolean =
      Seq((target, pat)).toDF("t", "p")
        .select(Crawl.repMatches(col("t"), col("p")).as("m"))
        .collect()(0).getBoolean(0)
    assert(m("/a/b?x=1", "/a/*?x="))      // * spans chars
    assert(!m("/doc.pdfx", "/*.pdf$"))    // trailing $ anchors
    assert(m("/doc.pdf", "/*.pdf$"))
    assert(m("/p$q/r", "/p$q/"))          // mid-pattern $ is literal
    assert(!m("/page", "/page/"))         // plain prefix stays a prefix
    assert(m("/a.b", "/a.b") && !m("/axb", "/a.b")) // . is literal
    // RFC 9309 §2.2.2: the EMPTY path defaults to "/" — a bare-host
    // query URL must present "/?session=…" so root-level wildcard
    // Disallows gate it (the regression: no leading "/", no match).
    val pq = Seq("http://h.example.com?session=9").toDF("u")
      .select(Crawl.urlPathQuery(Crawl.canonicalizeUrl(col("u"))).as("p"))
      .collect()(0).getString(0)
    assert(pq == "/?session=9", s"root-query target: $pq")
    assert(m(pq, "/*?session="), "root-level session rule must gate")
  }

  test("recrawlSchedule: estimator, clamps, no-signal defaults, one exchange") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      // 3 revisits / 1 change at gap 100: interval = 100/ln(3.5/2.5)
      ("u1", 0.0, "a"), ("u1", 100.0, "a"),
      ("u1", 200.0, "b"), ("u1", 300.0, "b"),
      // revisited, never changed: lambda -> 0, max clamp (NOT the
      // 1/-0.0 = -Infinity IEEE trap)
      ("u2", 0.0, "x"), ("u2", 500.0, "x"),
      // changes every fetch at gap 1: raw interval 0.62 -> min clamp
      ("u3", 0.0, "a"), ("u3", 1.0, "b"), ("u3", 2.0, "c"),
      // single observation: no revisit signal, max clamp
      ("u4", 42.0, "z"))
      .toDF("url", "ts", "dg")
    val out = Crawl.recrawlSchedule(hist, "url", "ts", "dg",
      minIntervalS = 50.0, maxIntervalS = 10000.0)
    // the lag window and the per-url rollup share the url key: the
    // window's hashpartitioning satisfies the aggregation, ONE shuffle
    assert(PlanCheck.shuffles(out).size == 1,
      "recrawlSchedule must reuse the window exchange for the rollup")
    val rows = out.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val u1 = rows("u1")
    assert(u1._1 == 3L && u1._2 == 1L)
    val expected = 100.0 / math.log(3.5 / 2.5)
    assert(math.abs(u1._3 - expected) < 1e-5, s"u1 interval ${u1._3}")
    assert(math.abs(u1._4 - (300.0 + expected)) < 1e-5)
    assert(rows("u2") == ((1L, 0L, 10000.0, 10500.0)), s"u2: ${rows("u2")}")
    assert(rows("u3") == ((2L, 2L, 50.0, 52.0)), s"u3: ${rows("u3")}")
    assert(rows("u4") == ((0L, 0L, 10000.0, 10042.0)), s"u4: ${rows("u4")}")
  }

  test("xmlUnescape: five entities, amp substitutes last") {
    val s = spark
    import s.implicits._
    val out = Seq(
      "a&amp;b", "&lt;tag&gt;", "&quot;q&quot;&apos;", "&amp;lt;", "plain")
      .toDF("v")
      .select(Crawl.xmlUnescape(col("v")))
      .collect().map(_.getString(0)).toSeq
    // &amp;lt; is the literal TEXT "&lt;" — a chain unescaping &amp;
    // first would double-decode it to "<"
    assert(out == Seq("a&b", "<tag>", "\"q\"'", "&lt;", "plain"), out)
  }

  test("xmlUnescape: numeric character references decode; malformed pass " +
    "through verbatim; decoded output never rescans") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // decimal + hex (both cases), mixed with text and named entities
      "a=1&#38;b=2" -> "a=1&b=2",
      "a=1&#x26;b=2" -> "a=1&b=2",
      "&#X3C;tag&#62;" -> "<tag>",
      "&#47;path&#x2F;x" -> "/path/x",
      // astral plane: surrogate-pair emission
      "hi &#128169; there" -> "hi 💩 there",
      "&#x1F4A9;" -> "💩",
      // one pass: an entity-escaped numeric ref stays LITERAL text
      "&amp;#38;" -> "&#38;",
      // XML 1.0 allows arbitrary leading zeros: value decides validity
      "&#00000038;" -> "&",
      "&#x00000026;" -> "&",
      // malformed: unterminated, empty digits, junk digits, cp 0,
      // beyond U+10FFFF, surrogate range, bare & — all verbatim
      "&#38" -> "&#38",
      "&#;" -> "&#;",
      "&#x;" -> "&#x;",
      "&#3a8;" -> "&#3a8;",
      "&#0;" -> "&#0;",
      "&#1114112;" -> "&#1114112;",
      "&#xD800;" -> "&#xD800;",
      "&#99999999;" -> "&#99999999;",
      "a && b" -> "a && b",
      "&unknown;" -> "&unknown;")
    val got = cases.map(_._1).toDF("v")
      .select(Crawl.xmlUnescape(col("v")))
      .collect().map(_.getString(0)).toSeq
    for (((in, want), g) <- cases.zip(got))
      assert(g == want, s"xmlUnescape($in) = $g, want $want")
    // stays codegen'd (a native expression, not a UDF) and SQL-callable
    val plan = cases.map(_._1).toDF("v")
      .select(Crawl.xmlUnescape(col("v")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"xml_unescape must not plan a UDF:\n$plan")
    val viaSql = spark.sql(
      "SELECT xml_unescape('a=1&#x26;b=2&amp;c')").collect()(0).getString(0)
    assert(viaSql == "a=1&b=2&c", viaSql)
  }

  test("recrawlScheduleSeeded: observed supersedes, lastmod prior fills, two exchanges") {
    val s = spark
    import s.implicits._
    // nowS sits 5000 s past two whole days, so day-2 lastmods land the
    // prior INTERIOR of the clamps, day-0 at the max, day-3 at the min.
    val nowS = 2 * 86400.0 + 5000.0
    val hist = Seq(
      // u1: real change history — the observed estimator wins even
      // though a sitemap lastmod exists
      ("http://h.com/u1", 0.0, "a"), ("http://h.com/u1", 100.0, "a"),
      ("http://h.com/u1", 200.0, "b"), ("http://h.com/u1", 300.0, "b"),
      // u2: revisited, never changed — stability EVIDENCE; the prior
      // must not override the max-clamp verdict
      ("http://h.com/u2", 0.0, "x"), ("http://h.com/u2", 500.0, "x"),
      // u4: seen once (no revisit signal) — the lastmod prior applies
      ("http://h.com/u4", 42.0, "z"),
      // u6: seen once, no sitemap row — default max clamp
      ("http://h.com/u6", 7.0, "w"))
      .toDF("url", "ts", "dg")
    val sitemap = Seq(
      ("http://h.com/u1", Some("1970-01-03")),
      ("http://h.com/u2", Some("1970-01-03")),
      ("http://h.com/u4", Some("1970-01-03")),
      // u5: never fetched, entity-escaped loc — must schedule under
      // its REAL ampersand spelling, clock starting at nowS
      ("http://h.com/u5?a=1&amp;b=2", Some("1970-01-01")),
      // u8: never fetched, lastmod in the future of nowS - maxI: the
      // prior min-clamps
      ("http://h.com/u8", Some("1970-01-04")),
      // u7: undated sitemap row — no signal, url absent from output
      ("http://h.com/u7", None))
      .toDF("loc", "lastmod")
      .select(col("loc"), col("lastmod").cast("date").as("lastmod"))
    val out = Crawl.recrawlScheduleSeeded(hist, "url", "ts", "dg",
      sitemap, "loc", "lastmod",
      nowS = nowS, minIntervalS = 50.0, maxIntervalS = 10000.0)
    // history side reuses its window exchange for the rollup; the
    // sitemap side folds duplicate declarations on the SAME url key;
    // the full-outer join reuses both partitionings — exactly two
    assert(PlanCheck.shuffles(out).size == 2,
      "seeded schedule must add only the sitemap-side exchange")
    val rows = out.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getString(5)))).toMap
    val u1 = rows("http://h.com/u1")
    val expected = 100.0 / math.log(3.5 / 2.5)
    assert(u1._1 == 3L && u1._2 == 1L && u1._5 == "observed", u1.toString)
    assert(math.abs(u1._3 - expected) < 1e-5 &&
      math.abs(u1._4 - (300.0 + expected)) < 1e-5, u1.toString)
    assert(rows("http://h.com/u2") == ((1L, 0L, 10000.0, 10500.0,
      "observed")), s"u2: ${rows("http://h.com/u2")}")
    // u4: prior age = nowS - 2 days = 5000 s, anchored at its last
    // (only) observation
    assert(rows("http://h.com/u4") == ((0L, 0L, 5000.0, 5042.0,
      "sitemap")), s"u4: ${rows("http://h.com/u4")}")
    // u5: never fetched — unescaped spelling, clock starts at nowS,
    // day-0 lastmod maxes the clamp
    assert(rows("http://h.com/u5?a=1&b=2") == ((0L, 0L, 10000.0,
      nowS + 10000.0, "sitemap")), s"u5: $rows")
    assert(!rows.contains("http://h.com/u5?a=1&amp;b=2"),
      "escaped spelling must not appear")
    assert(rows("http://h.com/u6") == ((0L, 0L, 10000.0, 10007.0,
      "default")), s"u6: ${rows("http://h.com/u6")}")
    assert(rows("http://h.com/u8") == ((0L, 0L, 50.0, nowS + 50.0,
      "sitemap")), s"u8: ${rows("http://h.com/u8")}")
    assert(!rows.contains("http://h.com/u7"),
      "an undated sitemap row carries no signal")
  }

  test("recrawlScheduleSeeded: unparseable lastmod is no signal (post-cast filter)") {
    val s = spark
    import s.implicits._
    // lastmod arrives as a STRING column here — the contract is "no
    // usable date => the URL is absent", and a non-null garbage string
    // casts to null, so it must behave exactly like the null row (a
    // pre-cast isNotNull filter would leak it through as a
    // basis='default' row anchored at nowS).
    val hist = Seq(("http://h.com/seen", 0.0, "a")).toDF("url", "ts", "dg")
    val sitemap = Seq(
      ("http://h.com/dated", Some("1970-01-02")),
      ("http://h.com/garbage", Some("not-a-date")),
      ("http://h.com/undated", None))
      .toDF("loc", "lastmod")
    val rows = Crawl.recrawlScheduleSeeded(hist, "url", "ts", "dg",
        sitemap, "loc", "lastmod",
        nowS = 86400.0 * 2, minIntervalS = 50.0, maxIntervalS = 10000.0)
      .collect().map(r => r.getString(0) -> r.getString(5)).toMap
    assert(rows("http://h.com/dated") == "sitemap", rows.toString)
    assert(!rows.contains("http://h.com/garbage"),
      "an unparseable lastmod carries no signal")
    assert(!rows.contains("http://h.com/undated"), rows.toString)
  }

  test("recrawlStats merge: chained waves == full recompute, boundary change counted") {
    val s = spark
    import s.implicits._
    val full = Seq(
      // u1 changes exactly AT the wave boundary (a->a | b->b): only
      // the merge's boundary compare can see it
      ("u1", 0.0, "a"), ("u1", 100.0, "a"),
      ("u1", 200.0, "b"), ("u1", 300.0, "b"),
      // u2 never changes across waves
      ("u2", 0.0, "x"), ("u2", 500.0, "x"), ("u2", 900.0, "x"),
      // u3 exists only in wave A; u4 only in wave B (pass-through)
      ("u3", 10.0, "q"),
      ("u4", 800.0, "z"), ("u4", 950.0, "w"))
      .toDF("url", "ts", "dg")
    val waveA = full.filter(col("ts") < 400.0)
    val waveB = full.filter(col("ts") >= 400.0)
    def stats(df: org.apache.spark.sql.DataFrame) =
      Crawl.recrawlStats(df, "url", "ts", "dg")
    val merged = Crawl.recrawlStatsMerge(stats(waveA), stats(waveB))
    val direct = stats(full)
    val key = (r: org.apache.spark.sql.Row) => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getString(5), r.getString(6)))
    assert(merged.collect().map(key).toMap ==
      direct.collect().map(key).toMap,
      "merged per-wave stats must equal a full-history recompute")
    // the boundary change is real: u1 has 1 change (a->b at the split)
    val u1 = merged.filter(col("url") === "u1").collect()(0)
    assert(u1.getLong(2) == 1L, s"boundary change: $u1")
    // three-way chaining (the fold is closed over the schema)
    val w1 = full.filter(col("ts") < 150.0)
    val w2 = full.filter(col("ts") >= 150.0 && col("ts") < 600.0)
    val w3 = full.filter(col("ts") >= 600.0)
    val chained = Crawl.recrawlStatsMerge(
      Crawl.recrawlStatsMerge(stats(w1), stats(w2)), stats(w3))
    assert(chained.collect().map(key).toMap ==
      direct.collect().map(key).toMap, "three-wave chain == full")
    // and the derived schedule equals the raw-history schedule
    val viaStats = Crawl.scheduleFromStats(merged, 50.0, 10000.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val viaHistory = Crawl.recrawlSchedule(full, "url", "ts", "dg",
        50.0, 10000.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(viaStats == viaHistory, "scheduleFromStats == recrawlSchedule")
  }

  test("recrawlStats merge: null digests carry as values, out-of-order waves raise") {
    val s = spark
    import s.implicits._
    def stats(df: org.apache.spark.sql.DataFrame) =
      Crawl.recrawlStats(df, "url", "ts", "dg")
    // u fetched x@0, null@10 (failed fetch), y@20: the raw lag flags
    // skip null comparisons -> 0 changes. The merge must carry the
    // TRUE last observation's digest (null) across the wave boundary —
    // value-coalescing it back to "x" would mint a phantom y != x
    // change in the next merge.
    val w1 = Seq(("u", 0.0, Some("x"))).toDF("url", "ts", "dg")
    val w2 = Seq(("u", 10.0, None: Option[String])).toDF("url", "ts", "dg")
    val w3 = Seq(("u", 20.0, Some("y"))).toDF("url", "ts", "dg")
    val chained = Crawl.recrawlStatsMerge(
      Crawl.recrawlStatsMerge(stats(w1), stats(w2)), stats(w3))
      .collect()(0)
    val direct = stats(
      Seq(("u", 0.0, Some("x")), ("u", 10.0, None: Option[String]),
        ("u", 20.0, Some("y"))).toDF("url", "ts", "dg"))
      .collect()(0)
    assert(chained.getLong(2) == 0L && direct.getLong(2) == 0L,
      s"null-boundary comparisons count no change: $chained vs $direct")
    assert(chained.toSeq == direct.toSeq, "chained == full with null digests")
    // a replayed / out-of-order wave fails loudly instead of
    // persisting corrupt statistics
    val replay = intercept[Exception] {
      Crawl.recrawlStatsMerge(stats(w3), stats(w1)).collect()
    }
    assert(replay.getMessage != null &&
      replay.toString.contains("out-of-order"),
      s"expected the out-of-order guard, got: $replay")
    // the guard is anchored in EVERY stat column, so a consumer that
    // prunes last_ts (where the check originally lived) still trips it
    val pruned = intercept[Exception] {
      Crawl.recrawlStatsMerge(stats(w3), stats(w1))
        .select("url", "n_obs", "n_changes").collect()
    }
    assert(pruned.toString.contains("out-of-order"),
      s"column pruning must not drop the guard, got: $pruned")
  }

  test("frontierFromSchedule: due URLs enter by overdueness, future URLs wait") {
    val s = spark
    import s.implicits._
    val sched = Seq(
      // overdue by 900 s and 100 s on the same host: longest-overdue
      // ranks first
      ("http://h.com/a", 100.0), ("http://h.com/b", 900.0),
      // due exactly at now: included (<=), overdueness 0
      ("http://h.com/c", 1000.0),
      // not yet due: stays out of this wave
      ("http://h.com/d", 1500.0),
      ("http://other.com/x", 400.0))
      .toDF("url", "next_fetch_at_s")
    val policy = Seq(("h.com", 3.0)).toDF("host", "delay_s")
    val out = Crawl.frontierFromSchedule(sched, "url", "next_fetch_at_s",
      nowS = 1000.0, policy, defaultDelayS = 9.0, maxPerHost = 10)
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) ->
        ((r.getLong(r.fieldIndex("rank")),
          r.getDouble(r.fieldIndex("priority")),
          r.getDouble(r.fieldIndex("fetch_at_s"))))
    }.toMap
    assert(rows == Map(
      "http://h.com/a" -> ((1L, 900.0, 0.0)),
      "http://h.com/b" -> ((2L, 100.0, 3.0)),
      "http://h.com/c" -> ((3L, 0.0, 6.0)),
      "http://other.com/x" -> ((1L, 600.0, 0.0))), rows.toString)
    assert(!rows.contains("http://h.com/d"), "future URLs wait their wave")
    // the due filter + overdueness projection add NO exchange beyond
    // frontierPlan's bounded per-host top-k
    assert(PlanCheck.shuffles(out).size == 1,
      "one bounded exchange, same as plain frontierPlan")
  }

  test("frontierPlanSeededXml: index children seed unescaped, urlset entries do not") {
    val s = spark
    import s.implicits._
    val bodies = Seq(
      ("a.com", "User-agent: *\nSitemap: http://a.com/sm.xml"),
      ("b.com", "User-agent: *\nCrawl-delay: 2")
    ).toDF("host", "body")
    val smBodies = Seq(
      ("a.com", "<sitemapindex>\n" +
        "<sitemap><loc>http://a.com/child1.xml</loc></sitemap>\n" +
        "<sitemap><loc> http://b.com/c.xml?x=1&amp;y=2 </loc></sitemap>\n" +
        "</sitemapindex>"),
      // a urlset body: kind='url' entries are page discoveries, NOT
      // sitemap fetches — they must not seed
      ("b.com", "<urlset><url><loc>http://b.com/page</loc></url></urlset>"))
      .toDF("host", "body")
    val cand = Seq(
      ("http://a.com/p/1", 30.0), ("http://b.com/p/1", 10.0))
      .toDF("url", "pri")
    val policy = Crawl.parseCrawlDelay(bodies, "host", "body", "graftbot")
    val out = Crawl.frontierPlanSeededXml(cand, "url", "pri",
      bodies, smBodies, "host", "body", policy,
      defaultDelayS = 9.0, maxPerHost = 10, seedPriority = 1e6)
    val rows = out.collect().map { r =>
      r.getString(r.fieldIndex("canon_url")) ->
        r.getLong(r.fieldIndex("rank"))
    }.toMap
    assert(rows == Map(
      // priority ties break by canon_url: child1 < sm.xml on a.com
      "http://a.com/child1.xml" -> 1L,
      "http://a.com/sm.xml" -> 2L,
      "http://a.com/p/1" -> 3L,
      // the escaped child arrives UNESCAPED and canonical
      "http://b.com/c.xml?x=1&y=2" -> 1L,
      "http://b.com/p/1" -> 2L), rows.toString)
    assert(!rows.keys.exists(_.contains("page")),
      "urlset entries must not seed the frontier")
    // the index arm adds NO candidate-side exchange (the
    // frontierPlanSeeded pin, extended)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def priShuffles(df: org.apache.spark.sql.DataFrame) =
      PlanCheck.nodes(df).collect {
        case e: ShuffleExchangeLike
          if e.child.output.exists(_.name == "priority") => e
      }.size
    val plain = Crawl.frontierPlan(
      cand.select(col("url"), col("pri").as("priority")),
      "url", "priority", policy, 9.0, 10)
    assert(priShuffles(out) == priShuffles(plain),
      "index seeding must not add a candidate-side exchange")
  }

  test("parseSitemapBodies: blocks, lastmod prefixes, index entries, dedup") {
    val s = spark
    import s.implicits._
    val bodies = queries.CrawlQueries.SitemapBodies
      .map { case (h, ls) => (h, ls.mkString("\n")) }
      .toDF("host", "body")
    val out = Crawl.parseSitemapBodies(bodies, "host", "body")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getDate(2)).map(_.toString), r.getString(3)))
      .toSet
    assert(out == Set(
      // duplicate /a collapses; whitespace-trimmed /c has no lastmod;
      // time-suffixed lastmod keeps its date prefix
      ("maps0.example.com", "http://maps0.example.com/a",
        Some("2026-07-01"), "url"),
      ("maps0.example.com", "http://maps0.example.com/b",
        Some("2026-07-15"), "url"),
      ("maps0.example.com", "http://maps0.example.com/c", None, "url"),
      // index children carry kind='sitemap'
      ("maps1.example.com", "http://maps1.example.com/sm-a.xml",
        Some("2026-06-30"), "sitemap"),
      ("maps1.example.com", "http://maps1.example.com/sm-b.xml",
        None, "sitemap"),
      // junk lastmod -> null; the loc-less block drops entirely
      ("maps2.example.com", "http://maps2.example.com/x", None, "url")),
      s"sitemap entries: $out")
  }

  test("robotsFreshness: RFC 9309 24h TTL, never-fetched hosts stale") {
    val s = spark
    import s.implicits._
    val frontier = Seq(
      "http://fresh.com/a", "http://fresh.com/b",
      "http://old.com/x", "http://never.com/y").toDF("url")
    val log = Seq(
      ("fresh.com", 1000.0), ("fresh.com", 2000.0), // latest fetch wins
      ("old.com", 100.0)).toDF("host", "ts")
    // now - fresh.last = 86400 EXACTLY: the TTL is an upper bound on
    // cache use (SHOULD NOT use for MORE than 24h), so equal-age is
    // still fresh — strict >.
    val out = Crawl.robotsFreshness(frontier, "url", log, "host", "ts",
        nowS = 88400.0, ttlS = 86400.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          r.getBoolean(4)))).toMap
    assert(out("fresh.com") ==
      ((2L, Some(2000.0), Some(86400.0), false)), s"fresh: $out")
    assert(out("old.com") == ((1L, Some(100.0), Some(88300.0), true)))
    assert(out("never.com") == ((1L, None, None, true)))
  }

  test("paraDedup is lineDedup at paragraph granularity") {
    val s = spark
    import s.implicits._
    val boiler = "all rights reserved by the site"
    val docs = Seq(
      (1L, s"unique alpha one\n\n$boiler"),
      (2L, s"unique beta two\n\n$boiler"),
      (3L, s"unique gamma three\n\n$boiler"),
      (4L, "only unique paragraphs here"))
      .toDF("doc_id", "text")
    val out = operators.SubstringDedup.paraDedup(docs, "doc_id", "text", maxDf = 2)
      .orderBy("doc_id").collect()
    // boilerplate para appears in 3 > 2 docs: dropped EVERYWHERE;
    // doc-internal newlines inside a paragraph would be preserved.
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L, 1L), "n_paras")
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L, 1L), "n_kept")
    assert(out.map(_.getString(3)).toSeq == Seq(
      "unique alpha one", "unique beta two", "unique gamma three",
      "only unique paragraphs here"))
  }
}

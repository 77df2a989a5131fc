package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Structured-Streaming operators over the `events` schema — a
  * beyond-parity extension (the reference has no streaming surface; this
  * follows the brief's Spark-first design: `readStream` → declarative
  * transforms → `writeStream`, watermarked windows, and
  * `mapGroupsWithState` for custom state).
  *
  * Every operator takes a plain `DataFrame` so it runs identically over
  * a batch frame (testing, backfill) and a streaming frame — the
  * Dataset API is the same; only the source/sink differ.
  */
object Streaming {

  /** One event row (events.parquet schema with µs timestamp). */
  final case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  /** Per-user running aggregate maintained by [[runningUserStats]]. */
  final case class UserStat(
      user_id: Long, n_events: Long, total_value: Double, last_type: String)

  /** Watermarked tumbling-window counts per event type. Late data beyond
    * `watermark` is dropped and its window state reclaimed — without the
    * watermark, state grows unboundedly at 100 TB/day event rates. */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session (native `session_window` — no custom state
    * needed). */
  def sessionize(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("total_value"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"))

  /** Custom keyed state via `mapGroupsWithState`: a per-user running
    * profile that survives across micro-batches. State is one small case
    * class per key — bounded by the user population, not the event
    * volume. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0, ""))
          val evs = batch.toSeq
          val next = UserStat(
            userId,
            prev.n_events + evs.size,
            prev.total_value + evs.map(_.value).sum,
            evs.sortBy(_.ts.getTime).lastOption.map(_.event_type)
              .getOrElse(prev.last_type))
          state.update(next)
          next
      }
  }

  /** A closed user session emitted by [[expiringSessions]]. */
  final case class ClosedSession(
      user_id: Long, n_events: Long, total_value: Double,
      first_ms: Long, last_ms: Long)

  /** Custom sessionization with `flatMapGroupsWithState` + event-time
    * timeout: a session's state accumulates while events keep arriving
    * within `gapMs` of each other (by event time); when the watermark
    * passes the gap, the timeout fires and the CLOSED session is
    * emitted — nothing is emitted for still-open sessions. This is the
    * shape to reach for when `session_window` can't express the
    * semantics (e.g. emit-once-on-close with custom payload). State is
    * one small record per active user. `watermark` bounds how late an
    * event may arrive and still join its session — size it to the
    * source's real disorder (a catch-up/backfill source needs far more
    * than seconds; an event later than it is silently dropped by the
    * engine before the state function ever sees it). */
  def expiringSessions(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "10 seconds"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClosedSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[ClosedSession]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator.single(closed)
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            if (evs.isEmpty) Iterator.empty
            else {
              // Split the batch on INTRA-batch gaps first: a single
              // micro-batch can span hours (backfill/catch-up), so
              // collapsing it to one [lo, hi] range would merge
              // sessions and make output depend on batch boundaries.
              val runs = scala.collection.mutable.ListBuffer.empty[ClosedSession]
              var cur: ClosedSession = null
              evs.foreach { e =>
                val ms = e.ts.getTime
                if (cur == null)
                  cur = ClosedSession(userId, 1L, e.value, ms, ms)
                else if (ms - cur.last_ms <= gapMs)
                  cur = ClosedSession(userId, cur.n_events + 1,
                    cur.total_value + e.value, cur.first_ms, ms)
                else {
                  runs += cur
                  cur = ClosedSession(userId, 1L, e.value, ms, ms)
                }
              }
              runs += cur
              // Merge the first run with prior state when it continues
              // that session; otherwise the prior session is closed.
              val (fromPrev, sessions) = state.getOption match {
                case Some(p) if runs.head.first_ms - p.last_ms <= gapMs =>
                  val h = runs.head
                  val merged = ClosedSession(userId, p.n_events + h.n_events,
                    p.total_value + h.total_value,
                    math.min(p.first_ms, h.first_ms),
                    math.max(p.last_ms, h.last_ms))
                  (Nil, merged :: runs.tail.toList)
                case Some(p) => (List(p), runs.toList)
                case None => (Nil, runs.toList)
              }
              val open = sessions.last
              state.update(open)
              state.setTimeoutTimestamp(open.last_ms + gapMs)
              // every closed session is emitted; only the final run
              // stays open in state
              (fromPrev ++ sessions.init).iterator
            }
          }
      }
  }

  /** Streaming exact dedup: re-deliveries of the same `event_id` are
    * dropped for as long as the watermark horizon keeps their state —
    * the ingestion-side guard of the corpus dedup operators
    * ([[graft.operators.Dedup]] handles the at-rest side). State is
    * bounded: ids older than the watermark are evicted, so memory scales
    * with the event rate × horizon, not the stream's lifetime. */
  def dedupEventStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming twin of the crawl-front URL gate
    * ([[graft.operators.Crawl]]): canonicalize each arriving fetch's
    * URL (stateless, map-only — the identical expression to the batch
    * path, so batch replay == stream output) and drop re-fetches of
    * the SAME canonical URL within the watermark horizon — the
    * frontier-side guard that stops URL-spelling duplicates from ever
    * reaching the lake, with the at-rest [[graft.operators.Crawl
    * .urlDedup]] handling what different crawl waves still let
    * through. State is the canonical DIGEST (fixed 64 hex chars, not
    * the URL string) and is watermark-bounded. */
  def urlDedupStream(
      fetches: DataFrame,
      urlCol: String = "url",
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    fetches
      .withColumn("canon_url",
        graft.operators.Crawl.canonicalizeUrl(col(urlCol)))
      .withColumn("__canon_digest",
        sha2(col("canon_url").cast("binary"), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__canon_digest")
      .drop("__canon_digest")

  /** MIRROR-AWARE streaming URL dedup: [[urlDedupStream]] with the
    * host first rewritten to its cluster-canonical host (the
    * batch-elected [[graft.operators.Crawl.mirrorClusters]] map,
    * static broadcast) — so a page arriving from a mirror is dropped
    * as a duplicate of the primary fetch within the watermark. The
    * rewrite shares [[graft.operators.Crawl.rewriteHost]] with the
    * batch operator, so stream and at-rest dedup agree on the key.
    * State is the rewritten canonical digest, watermark-bounded. */
  def mirrorAwareUrlDedupStream(
      fetches: DataFrame,
      hostMap: DataFrame,
      urlCol: String = "url",
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    val hm = broadcast(hostMap.select(
      col("host").as("__mh"), col("canonical_host").as("__mcanon")))
    fetches
      .withColumn("__canon0",
        graft.operators.Crawl.canonicalizeUrl(col(urlCol)))
      .withColumn("__host0", graft.operators.Crawl.urlHost(col("__canon0")))
      .join(hm, col("__host0") === col("__mh"), "left")
      .withColumn("canon_url", graft.operators.Crawl.rewriteHost(
        col("__canon0"), coalesce(col("__mcanon"), col("__host0"))))
      .drop("__canon0", "__host0", "__mh", "__mcanon")
      .withColumn("__canon_digest",
        sha2(col("canon_url").cast("binary"), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__canon_digest")
      .drop("__canon_digest")
  }

  /** Streaming robots gate: the REP allow/deny verdict applied to each
    * arriving fetch — canonicalize, broadcast-join the per-host rule
    * arrays ([[graft.operators.Crawl.robotsRulesPerHost]]), and fold
    * the verdict with the STATELESS higher-order
    * [[graft.operators.Crawl.robotsVerdict]] — no aggregation state,
    * no watermark, so the gate adds zero streaming state and its
    * output is spec-pinned identical to the batch
    * [[graft.operators.Crawl.robotsFilter]]. Emits every fetch with
    * `allowed` / `matched_len`; callers filter on `allowed` before the
    * frontier. */
  def robotsGateStream(
      fetches: DataFrame,
      rulesPerHost: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val canon = graft.operators.Crawl.canonicalizeUrl(col(urlCol))
    fetches
      .withColumn("canon_url", canon)
      .withColumn("host", graft.operators.Crawl.urlHost(col("canon_url")))
      // urlPathQuery, not urlPath: REP rules match path PLUS query —
      // same target as the batch robotsFilter, or the parity pin lies.
      .withColumn("path", graft.operators.Crawl.urlPathQuery(col("canon_url")))
      .join(broadcast(rulesPerHost), Seq("host"), "left")
      .withColumn("__best",
        graft.operators.Crawl.robotsVerdict(col("path"), col("rules")))
      .withColumn("allowed", col("__best") === -1 || col("__best") % 2 === 1)
      .withColumn("matched_len",
        when(col("__best") >= 0, floor(col("__best") / 2).cast("int")))
      .drop("rules", "__best")
  }

  /** Streaming FRONTIER GATE: [[robotsGateStream]] composed with the
    * trap-cell exclusion — the full admission decision of
    * [[graft.operators.Crawl.frontierPlanGated]] minus the politeness
    * ranking (per-host rank/slot assignment is a global order, which
    * a stream cannot emit incrementally; scheduling stays a batch
    * decision over the gated pool). `traps` is the batch-mined
    * `(host, template)` flagged-cell table
    * ([[graft.operators.Crawl.urlTemplateReport]] filtered to
    * `trap`), joined broadcast-anti; like the robots fold it is a
    * stream-static per-row lookup, so the whole gate still carries
    * ZERO streaming state. Emits the admitted fetches with their
    * `canon_url`/`host`/`path`; parity with the batch gate is
    * spec-pinned. */
  def frontierGateStream(
      fetches: DataFrame,
      rulesPerHost: DataFrame,
      traps: DataFrame,
      urlCol: String = "url"): DataFrame =
    robotsGateStream(fetches, rulesPerHost, urlCol)
      .filter(col("allowed"))
      .join(broadcast(traps.select(
          col("host").as("__thost"), col("template").as("__ttpl"))),
        col("host") === col("__thost") &&
          // Template on the QUERY-FREE path: robotsGateStream's `path`
          // is the REP match target (path+query), but trap cells are
          // mined from urlPath — the two sides must template alike.
          graft.operators.Crawl.urlTemplate(
            graft.operators.Crawl.urlPath(col("canon_url"))) === col("__ttpl"),
        "left_anti")

  /** Streaming ROBOTS-FRESHNESS screen: each arriving candidate URL
    * flagged with its host's robots-cache age and RFC 9309 §2.4
    * staleness verdict — the per-row admission form of
    * [[graft.operators.Crawl.robotsFreshness]] (whose per-host
    * `n_queued` rollup is a batch aggregation a stream cannot emit
    * incrementally; the VERDICT side is a pure stream-static broadcast
    * lookup, zero streaming state, no watermark). A stale or
    * never-fetched host's URLs route to a robots refetch before any
    * crawl; parity with the batch verdict columns is spec-pinned.
    *
    * The clock: by default each MICRO-BATCH evaluates against its own
    * `current_timestamp` — a long-running stream keeps issuing true
    * verdicts as hosts age past the TTL (a constant frozen at plan
    * time would call a host fetched just before start "fresh"
    * forever). Pass `nowS` only for deterministic replay/tests. */
  def robotsFreshnessStream(
      fetches: DataFrame,
      robotsLog: DataFrame,
      hostCol: String,
      tsCol: String,
      nowS: Option[Double] = None,
      ttlS: Double = 86400.0,
      urlCol: String = "url"): DataFrame = {
    require(ttlS > 0, "ttlS must be positive")
    val now = nowS.map(lit(_))
      .getOrElse(unix_micros(current_timestamp()).cast("double") / 1e6)
    val canon = graft.operators.Crawl.canonicalizeUrl(col(urlCol))
    val lastFetch = broadcast(robotsLog
      .select(col(hostCol).as("__lhost"),
        col(tsCol).cast("double").as("__lts"))
      .groupBy(col("__lhost")).agg(max(col("__lts")).as("last_fetch_s")))
    fetches
      .withColumn("canon_url", canon)
      .withColumn("host", graft.operators.Crawl.urlHost(col("canon_url")))
      .join(lastFetch, col("host") === col("__lhost"), "left")
      .withColumn("age_s", round(now - col("last_fetch_s"), 6))
      .withColumn("stale",
        col("last_fetch_s").isNull ||
          now - col("last_fetch_s") > lit(ttlS))
      .drop("__lhost")
  }

  /** Stream-stream interval join: each purchase attributes to the SAME
    * user's views within the preceding `window`. Both sides carry
    * watermarks and the join condition bounds event time on both sides,
    * so Spark can evict join state — an unbounded stream-stream join
    * would otherwise buffer both streams forever. */
  def purchaseAttribution(
      events: DataFrame,
      window: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id").as("view_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(
      views,
      expr(s"""view_user = user_id AND
               purchase_ts >= view_ts AND
               purchase_ts <= view_ts + INTERVAL $window"""))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Stream-static enrichment: join a live event stream against a
    * batch dimension table (user → segment, doc → license, …). The
    * static side is planned per micro-batch like any batch join — small
    * dims broadcast, so NO stream state and no watermark is needed
    * (unlike stream-stream joins); a dim refresh is picked up at the
    * next micro-batch because the batch plan re-executes. The
    * left join keeps unmatched events (`dimCol` null) rather than
    * silently dropping them. */
  def enrichEvents(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String = "user_id",
      dimKey: String = "user_id"): DataFrame =
    events.join(
      broadcast(dim),
      events(eventKey) === dim(dimKey),
      "left")
      .drop(dim(dimKey))

  /** Streaming decontamination: drop documents from an incoming crawl
    * stream that share at least `minShared` distinct k-word shingles
    * with a STATIC eval pool — the online form of
    * [[graft.operators.Decontaminate.ngramOverlap]].
    *
    * Shape matters in streaming: the batch operator's explode → join →
    * `groupBy(doc)` count would be a STATEFUL streaming aggregation
    * (doc ids are unique, so state grows with stream lifetime). This
    * form is fully STATELESS: the eval pool collapses to one row
    * holding its distinct shingle array (eval benchmarks are MBs),
    * which a broadcast stream-static cross join attaches to every doc;
    * the shared-shingle count is then a per-row
    * `size(array_intersect(...))` projection. No watermark, no state
    * store, nothing buffered across micro-batches. Sub-k-token docs
    * have an empty shingle set and always survive. */
  def decontaminateStream(
      docs: DataFrame,
      evalPool: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      minShared: Int = 5): DataFrame = {
    val sh = graft.operators.Shingles.wordShingles(col(textCol), k)
    // Materialized once: the static subplan would otherwise re-shingle
    // the whole eval pool on every micro-batch.
    val evalGrams = graft.operators.Materialize.checkpoint(evalPool
      .select(explode(sh).as("__g"))
      .agg(collect_set(col("__g")).as("__eval_grams")))
    docs
      .crossJoin(broadcast(evalGrams))
      .filter(
        size(array_intersect(sh, col("__eval_grams"))) < minShared)
      .drop("__eval_grams")
  }

  /** Streaming incremental dedup: drop arriving docs whose content
    * digest already exists in the static reference corpus — the
    * continuous-ingestion form of
    * [[graft.operators.Dedup.dedupAgainstReference]]. Stateless: a
    * stream-static LEFT ANTI join against the reference's distinct
    * 256-bit digests (the static side reduces to 32-byte hashes once;
    * reference text never enters the stream), no watermark, no state
    * store. Duplicates WITHIN the stream are the stateful
    * [[dedupEventStream]]'s job — compose both for exactly-once
    * content ingestion. */
  def dedupAgainstReferenceStream(
      docs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      refTextCol: String = "text"): DataFrame = {
    // MATERIALIZED once at construction: a stream-static join re-plans
    // and re-executes the static subplan on EVERY micro-batch — without
    // this, each trigger re-scans the reference corpus and re-hashes
    // all its text just to rebuild the same digest set.
    val refHashes = graft.operators.Materialize.checkpoint(reference
      .select(sha2(col(refTextCol).cast("binary"), 256).as("__ref_hash"))
      .distinct())
    docs
      .withColumn("__hash", sha2(col(textCol).cast("binary"), 256))
      .join(refHashes, col("__hash") === col("__ref_hash"), "left_anti")
      .drop("__hash")
  }

  /** Streaming incremental NEAR-dup screen: drop arriving docs that
    * share ANY banded-MinHash bucket with the static reference corpus —
    * the continuous-ingestion form of
    * [[graft.operators.Dedup.nearDupAgainstReference]].
    *
    * Streaming cannot run the exact verify stage (counting shared
    * shingles per (stream, ref) pair is an aggregation, i.e. a state
    * store); instead the banded CANDIDATE test itself is the filter —
    * the conservative, recall-oriented screen (any true near-dup above
    * the banding's design threshold shares a band and is dropped;
    * unrelated docs are dropped only at the ~b·j^r false-candidate
    * rate, ≈10⁻⁵ with the r = 3 default). Route survivors through the
    * batch verify if precision matters.
    *
    * Fully STATELESS: the signature is a per-row projection, the
    * reference reduces once to `numBands` distinct band-value sets, and
    * the "no band matches" predicate is `numBands` chained stream-static
    * LEFT ANTI joins — no watermark, no state store, identical physics
    * to [[dedupAgainstReferenceStream]] per band. Docs too short to
    * shingle survive by construction (they cannot near-dup anything). */
  def nearDupAgainstReferenceStream(
      docs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      refTextCol: String = "text",
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6): DataFrame = {
    import graft.operators.{Materialize, Shingles}
    val nHash = rowsPerBand * numBands
    def sig(c: org.apache.spark.sql.Column) =
      graft.functions.MinHashSignature
        .minHashSignature(Shingles.wordShingles(c, k), nHash)
    def band(s: org.apache.spark.sql.Column, b: Int) =
      xxhash64(slice(s, b * rowsPerBand + 1, rowsPerBand), lit(b))
    // MATERIALIZED once at construction (signatures first, then each
    // band's distinct value set): the static side of a stream-static
    // join re-executes per micro-batch — unmaterialized, every trigger
    // would re-shingle and re-hash the whole reference corpus once PER
    // BAND, forever.
    val refSig = Materialize.checkpoint(reference
      .filter(size(Shingles.wordShingles(col(refTextCol), k)) > 0)
      .select(sig(col(refTextCol)).as("__sig")))
    val refBands = (0 until numBands).map { b =>
      Materialize.checkpoint(
        refSig.select(band(col("__sig"), b).as(s"__rb$b")).distinct())
    }
    var out = docs.withColumn("__sig",
      when(size(Shingles.wordShingles(col(textCol), k)) > 0,
        sig(col(textCol))))
    for (b <- 0 until numBands) {
      // NULL signature (short doc) must survive STRUCTURALLY: xxhash64
      // SKIPS null inputs (band(NULL, b) is a non-null per-band
      // constant, which could collide), so the join key itself is
      // nulled out — a null key never matches an anti join.
      val key = when(col("__sig").isNotNull, band(col("__sig"), b))
      out = out.join(refBands(b), key === col(s"__rb$b"), "left_anti")
    }
    out.drop("__sig")
  }

  /** Streaming SEMANTIC-duplicate detections: for every incoming doc
    * whose embedding is cosine-≥-`threshold` similar to a static
    * reference vector, emit `(doc columns, ref id, sim)` — the
    * embedding-space sibling of [[nearDupAgainstReferenceStream]],
    * completing the streaming dedup ladder: exact digest → shingle
    * MinHash → embedding LSH.
    *
    * Emits DETECTIONS rather than dropping in-stream: a drop screen
    * needs "no reference matches", and banded membership sets saturate
    * (an r-bit band has 2^r values — any corpus much larger than that
    * occupies them all and the screen drops everything), while a
    * per-doc "any match" aggregate would drag a state store into what
    * is otherwise a stateless pipeline. Candidates come from the native
    * euclidean-LSH bucket join ([[graft.functions.EuclidLshBuckets]],
    * AND-composed 8×2 @ w=0.3 — 0.99+ pair recall at cosine 0.45,
    * higher still at screen-grade similarity) and every candidate is
    * re-scored with the exact fused cosine, so a detection is never a
    * false positive; the consumer quarantines detected ids.
    *
    * Fully STATELESS: the bucket posting is a per-row projection +
    * generator, the reference reduces ONCE to a materialized
    * `(bucket, ref id, vector)` posting table (the static side of a
    * stream-static join re-executes per micro-batch), and the join is
    * a stream-static INNER equi join — no watermark, no state store.
    * A (doc, ref) pair sharing several buckets emits once PER SHARED
    * BUCKET (deduping would need streaming state); downstream
    * aggregation is the consumer's call. NULL embeddings yield no
    * postings and pass undetected by construction. */
  def semanticMatchesStream(
      docs: DataFrame,
      reference: DataFrame,
      refIdCol: String,
      vecCol: String = "embedding",
      refVecCol: String = "embedding",
      threshold: Double = 0.9,
      numHashTables: Int = 8,
      bucketLength: Double = 0.3,
      rowsPerTable: Int = 2,
      seed: Long = 42L): DataFrame = {
    import graft.operators.Materialize
    def buckets(c: org.apache.spark.sql.Column) =
      graft.functions.EuclidLshBuckets.euclidLshBuckets(
        c, seed, numHashTables, bucketLength, rowsPerTable)
    val refPostings = Materialize.checkpoint(
      reference
        .select(col(refIdCol).as("__rid"), col(refVecCol).as("__rvec"),
          explode(buckets(col(refVecCol))).as("__rb"))
        .select(col("__rb"), col("__rid"), col("__rvec")))
    docs
      .withColumn("__b", explode(buckets(col(vecCol))))
      .join(refPostings, col("__b") === col("__rb"))
      .withColumn("sim", round(graft.functions.functions
        .cosineSimilarity(col(vecCol), col("__rvec")), 6))
      .filter(col("sim") >= threshold)
      .drop("__b", "__rb", "__rvec")
      .withColumnRenamed("__rid", "ref_" + refIdCol)
  }

  /** Streaming exact-SUBSTRING detections: for every incoming doc, emit
    * one row per anchored `spanLen`-char span whose digest exists in the
    * static reference corpus's anchored-span set — the character-level
    * rung of the streaming dedup ladder (exact digest → shingle MinHash
    * → embedding LSH → copied-run substring). Catches an arriving doc
    * that PASTES a reference paragraph into otherwise-new text, which
    * whole-doc digest and whole-doc similarity both dilute away.
    *
    * Emits DETECTIONS (doc columns + the matched span digest) rather
    * than dropping: "no span matches" is an anti join over an exploded
    * generator — per-doc reconstruction would need a distinct, i.e. a
    * state store. A doc sharing several spans emits once per shared
    * span; downstream aggregation is the consumer's call.
    *
    * Fully STATELESS: span digesting is the per-row native
    * `anchored_span_digests` pass, the reference reduces ONCE to a
    * materialized distinct-digest set (the static side of a
    * stream-static join re-executes per micro-batch), and the join is a
    * stream-static INNER equi join on 32-hex digests — no watermark, no
    * state store. Docs shorter than `spanLen` yield no spans and pass
    * undetected by construction. */
  def substringMatchesStream(
      docs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      refTextCol: String = "text",
      spanLen: Int = 50,
      anchorK: Int = 8,
      anchorZeros: Int = 1): DataFrame = {
    import graft.operators.Materialize
    def spans(c: org.apache.spark.sql.Column) =
      graft.functions.AnchoredSpanDigests
        .anchoredSpanDigests(c, spanLen, anchorK, anchorZeros)
    val refSpans = Materialize.checkpoint(
      reference
        .select(explode(spans(col(refTextCol))).as("__ref_h"))
        .distinct())
    docs
      .withColumn("span_h", explode(spans(col(textCol))))
      .join(refSpans, col("span_h") === col("__ref_h"))
      .drop("__ref_h")
  }

  /** Ingest-time PII + quality screen: every arriving document gets its
    * PII match counts, typed-placeholder redaction
    * ([[graft.operators.Scrub]]) and the quality gate verdict
    * ([[graft.operators.TextAnalysis.qualityFilter]]) — the screen a
    * crawler runs BEFORE raw text ever lands in the lake, so leaked
    * emails/IPs/SSNs exist in no at-rest copy.
    *
    * Fully STATELESS and map-only per micro-batch (the batch operator
    * plan is a single projection, spec-pinned); identical expressions
    * to the batch path, so batch replay == streaming output row for
    * row. */
  def scrubStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.operators.{Scrub, TextAnalysis}
    docs.select(
      col(idCol) +: graft.operators.Scrub.piiCounts(col(textCol)) :+
        Scrub.redactPii(col(textCol)).as("redacted") :+
        TextAnalysis.qualityFilter(col(textCol)).as("quality_pass"): _*)
  }

  /** Steady-state mixture screen at ingest: per-source inclusion rates
    * learned from a BATCH census ([[graft.operators.Curation
    * .temperatureRates]] — a stream cannot census itself) fold into
    * the stream as literals; each arriving document passes iff its
    * md5-uniform clears its source's rate. Fully STATELESS and
    * map-only per micro-batch; identical draw to the batch
    * [[graft.operators.Curation.temperatureMix]], so replaying the
    * stream as a batch yields the identical selection. */
  def temperatureMixStream(
      docs: DataFrame,
      census: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source",
      alpha: Double = 0.5,
      total: Long = 1000L): DataFrame =
    graft.operators.Curation.applyMixRates(
      docs, idCol, srcCol,
      graft.operators.Curation.temperatureRates(census, srcCol, alpha, total))

  /** Online scoring-path twin of
    * [[graft.operators.QualityModel.applyCalibration]]: the isotonic
    * mapping fitted OFFLINE ([[graft.operators.QualityModel
    * .recalibrate]] over a batch reliability table — a stream cannot
    * fit its own isotonic regression, the [[temperatureMixStream]]
    * census argument) broadcasts its ≤ bins rows onto every arriving
    * score. Fully STATELESS and map-only per micro-batch: bin
    * arithmetic + one broadcast hash probe, no watermark, no state
    * store; the SAME expression tree as the batch operator, so a
    * scorer recalibrated offline deploys to the online path without a
    * second implementation that could drift (batch parity
    * spec-pinned). The mapping CHECKPOINTS once here (the
    * [[lineDedupStream]] discipline): the static side of a
    * stream-static join re-executes per micro-batch, and an
    * unmaterialized `recalibrate(...)` lineage would re-scan its
    * training corpus and re-run the isotonic joins on every trigger —
    * the hot scoring path must pay only the ≤ bins-row broadcast. */
  def applyCalibrationStream(
      scores: DataFrame,
      scoreCol: String,
      mapping: DataFrame,
      bins: Int = 10,
      outCol: String = "calibrated_score"): DataFrame =
    graft.operators.QualityModel.applyCalibration(
      scores, scoreCol, graft.operators.Materialize.checkpoint(mapping),
      bins, outCol)

  /** KEYED online scoring-path twin — how a
    * [[graft.operators.QualityModel.recalibrateBy]] per-source fit
    * DEPLOYS to the scoring stream (without this, the keyed fit's
    * output could only ship to batch consumers; the global
    * [[applyCalibrationStream]] cannot carry a (key, bin) mapping).
    * Same contract as the global form: the mapping checkpoints ONCE
    * (its keyed isotonic lineage — per-key windows and the segment
    * rollup — must not re-execute per micro-batch as the static side
    * of a stream-static join otherwise would), then broadcasts its
    * ≤ keys × bins rows onto every arriving (key, score) pair.
    * Fully STATELESS and map-only per micro-batch; the SAME
    * expression tree as the batch [[graft.operators.QualityModel
    * .applyCalibrationBy]], so batch replay yields identical values
    * (spec-pinned). Rows in a (key, bin) cell the fit never saw —
    * including a brand-new source — keep their raw score. */
  def applyCalibrationStreamBy(
      scores: DataFrame,
      keyCol: String,
      scoreCol: String,
      mapping: DataFrame,
      bins: Int = 10,
      outCol: String = "calibrated_score"): DataFrame =
    graft.operators.QualityModel.applyCalibrationBy(
      scores, keyCol, scoreCol,
      graft.operators.Materialize.checkpoint(mapping), bins, outCol)

  /** Online deployment twin of
    * [[graft.operators.QualityModel.applyThresholdBy]] — how a
    * [[graft.operators.QualityModel.thresholdSelectBy]] per-source
    * operating point ships to the scoring stream (selection needs the
    * full label/score census, so it fits OFFLINE; the stream only
    * applies the chosen points — the offline-fit/online-apply split of
    * [[applyCalibrationStreamBy]]). Same contract as the batch form:
    * `round(score, scale) >= threshold` per key (pass the selection's
    * own `scale`), null/NaN scores and keys without a selected point
    * drop. The thresholds table checkpoints ONCE (its sweep lineage —
    * keyed grid windows and the argmax fold — must not re-execute per
    * micro-batch as the static side of a stream-static join otherwise
    * would), then broadcasts its O(keys) rows. Fully STATELESS and
    * map-only per micro-batch; batch parity spec-pinned. */
  def applyThresholdStreamBy(
      docs: DataFrame,
      keyCol: String,
      scoreCol: String,
      thresholds: DataFrame,
      scale: Int = 6): DataFrame =
    graft.operators.QualityModel.applyThresholdBy(
      docs, keyCol, scoreCol,
      graft.operators.Materialize.checkpoint(thresholds), scale)

  /** Ingest-time QUARANTINE of drifted sources — the streaming twin of
    * the drift-gated budget's verdict join (q_drift_gated_budget):
    * without it, a source whose score distribution walked off is
    * caught only at the next release build; with it, the same keyed
    * PSI verdict bars the door. `verdicts` is a batch
    * [[graft.operators.QualityModel.psiTotalBy]] output (only its
    * `keyCol` and `psi_total` columns are read — a stream cannot
    * measure its own distribution shift, the offline-fit/online-apply
    * split of [[applyCalibrationStreamBy]]): rows whose key's
    * `psi_total` exceeds `maxPsi` DROP, as do keys with no verdict or
    * a null one — a source that cannot be measured does not ship on a
    * guess, the unmeasurable-gates-false discipline throughout the
    * scorer family.
    *
    * Fully STATELESS and map-only per micro-batch: the verdict table
    * checkpoints ONCE (its two-corpus keyed-PSI lineage must not
    * re-execute per trigger as the static side of a stream-static
    * join otherwise would), reduces to its O(keys) passing subset,
    * and broadcasts into a stream-static LEFT SEMI probe — no
    * watermark, no state store; columns pass through untouched. */
  def driftGateStream(
      docs: DataFrame,
      keyCol: String,
      verdicts: DataFrame,
      maxPsi: Double = 0.25): DataFrame = {
    val ok = broadcast(graft.operators.Materialize.checkpoint(
      verdicts.filter(col("psi_total") <= maxPsi)
        .select(col(keyCol))))
    docs.join(ok, Seq(keyCol), "left_semi")
  }

  /** Ingest-time DECONTAMINATION screen: one detection row per
    * (arriving document, eval set, shared k-gram) — don't let
    * benchmark text enter the training lake at all, instead of
    * scrubbing it out later. The streaming twin of
    * [[graft.operators.Decontaminate.ngramOverlapPerSet]] at its
    * published 13-gram preset; same contract as
    * [[substringMatchesStream]]: DETECTIONS, not drops (a per-doc
    * shared-count needs a distinct, i.e. a state store — downstream
    * aggregation is the consumer's call; any detection at k=13 is the
    * GPT-3 collision rule's "contaminated" already).
    *
    * Fully STATELESS: shingling is the native row-local one-pass
    * expression, the eval pool reduces ONCE to its materialized
    * distinct (set, gram) table (the static side of a stream-static
    * join re-executes per micro-batch), and the join is a
    * stream-static INNER equi join — no watermark, no state store. */
  def decontamMatchesStream(
      docs: DataFrame,
      eval: DataFrame,
      textCol: String = "text",
      evalSetCol: String = "eval_set",
      evalTextCol: String = "text",
      k: Int = 13): DataFrame = {
    import graft.operators.{Materialize, Shingles}
    val evalGrams = Materialize.checkpoint(
      eval
        .select(col(evalSetCol),
          explode(Shingles.wordShingles(col(evalTextCol), k)).as("__g"))
        .distinct())
    docs
      .withColumn("__g", explode(Shingles.wordShingles(col(textCol), k)))
      .join(evalGrams, "__g")
      .withColumnRenamed("__g", "shared_gram")
  }

  /** Ingest-time LINE-boilerplate strip: the streaming twin of
    * [[graft.operators.SubstringDedup.lineDedup]] (every batch screen
    * in this library has a streaming form and vice versa). The hot-line
    * digest set is learned from a BATCH census — a stream cannot count
    * its own line document-frequency — CHECKPOINTED once (the static
    * side of a stream-static join re-executes per micro-batch, and the
    * census aggregation must not), and broadcast into each micro-batch
    * as the same one-row sorted-set cross join the batch form uses:
    * stream-static inner join, no watermark, no state store, and — the
    * scale point — the hot set NEVER materializes on the driver, so a
    * boilerplate-heavy 100 TB census whose Zipf head outgrows
    * expectations hits Spark's executor-side broadcast guard, not
    * driver OOM. Identical removal expressions to the batch path
    * ([[graft.operators.SubstringDedup.stripHotLinesJoin]]), so
    * replaying the stream as a batch yields the identical output. */
  def lineDedupStream(
      docs: DataFrame,
      census: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Int = 2,
      sep: String = "\n"): DataFrame = {
    import graft.operators.{Materialize, SubstringDedup}
    SubstringDedup.stripHotLinesJoin(docs, idCol, textCol,
      Materialize.checkpoint(
        SubstringDedup.hotLineDigests(census, textCol, maxDf, sep)),
      sep)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ModelCache, QualityModel, TextAnalysis}

/** Learned quality classifier: deterministic holdout split, output
  * contract, real generalization (beats the majority baseline on
  * held-out docs), and model-cache reuse across executions. */
class QualityModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = spark.read
    .parquet(TestSpark.sf001 + "/documents.parquet")

  private def weakLabel = {
    val toks = TextAnalysis.tokens(col("text"))
    size(filter(toks, tk => tk.isInCollection(TextAnalysis.StopwordsEn)))
      .cast("double") / size(toks) >= 0.06
  }

  private def scored = QualityModel.fitScore(
    docs, "doc_id", "text", weakLabel)

  test("every doc is scored once; probabilities are probabilities") {
    val out = scored.cache()
    try {
      assert(out.count() == docs.count())
      assert(out.select("doc_id").distinct().count() == docs.count())
      assert(out.filter(col("prob") < 0 || col("prob") > 1).count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("holdout split is the md5 bucket, not RNG: stable across runs") {
    val a = scored.filter(col("holdout")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = scored.filter(col("holdout")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty && a.size < docs.count(),
      s"holdout must be a proper subset (got ${a.size})")
  }

  test("holdout agreement beats the majority baseline") {
    val out = scored.cache()
    try {
      val hold = out.filter(col("holdout"))
      val n = hold.count().toDouble
      val agree = hold
        .filter(col("predicted") === col("weak_label")).count() / n
      val majority = math.max(
        hold.filter(col("weak_label")).count() / n,
        hold.filter(!col("weak_label")).count() / n)
      assert(agree >= 0.75, f"holdout agreement $agree%.3f < 0.75")
      assert(agree > majority,
        f"agreement $agree%.3f must beat majority baseline $majority%.3f")
    } finally out.unpersist(blocking = false)
  }

  test("codegen'd scoreColumn matches spark.ml transform probabilities") {
    // Same murmur3(42) hashing + nonNegativeMod bucketing + linear
    // margin, re-expressed in pure functions._ — only double-addition
    // order differs from BLAS.dot, so probabilities agree to ~1e-12.
    val model = QualityModel.fit(docs, "doc_id", "text", weakLabel)
    val viaTransform = scored.select(col("doc_id"), col("prob"))
    val viaExpr = docs.select(col("doc_id"),
      round(QualityModel.scoreColumn(col("text"),
        model.coefficients.toArray, model.intercept), 6).as("prob2"))
    val joined = viaTransform.join(viaExpr, "doc_id")
      .filter(abs(col("prob") - col("prob2")) > 1e-6)
    assert(joined.count() == 0,
      s"diverging rows: ${joined.limit(3).collect().mkString(", ")}")
    // and the plan has no scala UDF (stays codegen'd)
    val plan = docs.select(QualityModel.scoreColumn(col("text"),
      model.coefficients.toArray, model.intercept))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"scoreColumn must not plan a UDF:\n$plan")
  }

  test("the fit is cached per (input, params) like LSH/IVF") {
    ModelCache.clear()
    scored.count()
    scored.count()
    assert(ModelCache.size == 1,
      s"same corpus+params must fit once, cached ${ModelCache.size}")
    // different regularization => different model
    QualityModel.fitScore(docs, "doc_id", "text", weakLabel,
      regParam = 0.5).count()
    assert(ModelCache.size == 2)
  }

  test("calibrationReport: bins, top-bin fold, null scores dropped") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (Some(0.05), true), (Some(-0.05), false), // bin 0 (negative clips)
      (Some(1.0), true), (Some(0.95), false),   // bin 9 (1.0 folds in)
      (None, true),                             // null score: dropped
      (Some(0.55), true))                       // bin 5
      .toDF("score", "label")
    val rep = QualityModel.calibrationReport(rows, "score", "label")
    // one partial-aggregating exchange on the bin key
    assert(PlanCheck.shuffles(rep).size == 1,
      "calibration must be a single-exchange aggregation")
    val out = rep.collect().map(r => r.getInt(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out == Map(
      0 -> ((2L, 0.0, 0.5, 0.5)), // mean (0.05 + -0.05)/2
      5 -> ((1L, 0.55, 1.0, 0.45)),
      9 -> ((2L, 0.975, 0.5, -0.475))),
      s"calibration bins: $out")
  }

  test("rocAuc: Mann-Whitney with tie-block average ranks") {
    val s = spark
    import s.implicits._
    // ascending ranks: 0.3 -> 1; 0.5,0.5 -> avg 2.5; 0.8,0.8 -> avg
    // 4.5; 0.9 -> 6. R_pos = 1 + 4.5 + 6 = 11.5, n_pos = n_neg = 3:
    // AUC = (11.5 - 6) / 9 = 0.611111 -- pair-checked: 0.9 beats all
    // three negatives, 0.8 ties one (1/2) and beats two, 0.3 none.
    val rows = Seq(
      (0.9, true), (0.8, false), (0.8, true),
      (0.5, false), (0.5, false), (0.3, true)).toDF("score", "label")
    val frame = QualityModel.rocAuc(rows, "score", "label")
    // scale pin: the ordered (single-partition) window consumes the
    // DISTINCT-SCORE aggregate, never raw rows — its input carries the
    // grouped counts, so the global sort is score-cardinality-bounded
    val windows = PlanCheck.nodes(frame).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty &&
      windows.forall(_.child.output.exists(_.name == "__n")),
      "rocAuc's window must run over the distinct-score aggregate")
    val out = frame.collect()(0)
    assert(out.getLong(0) == 3L && out.getLong(1) == 3L)
    assert(out.getDouble(2) == 0.611111, s"auc: ${out.getDouble(2)}")
    // degenerate sanity: a perfectly separating score
    val sep = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("score", "label")
    assert(QualityModel.rocAuc(sep, "score", "label")
      .collect()(0).getDouble(2) == 1.0)
    // null labels drop entirely (they must not occupy rank positions:
    // left in, AUC can silently leave [0,1])
    val withNulls = Seq(
      (0.9, Some(true)), (0.5, Some(false)),
      (0.1, None), (0.2, None), (0.3, None))
      .toDF("score", "label")
    val nn = QualityModel.rocAuc(withNulls, "score", "label").collect()(0)
    assert(nn.getLong(0) == 1L && nn.getLong(1) == 1L &&
      nn.getDouble(2) == 1.0, nn.toString)
    // single-class input: AUC undefined -> null, not an ANSI
    // divide-by-zero
    val oneClass = Seq((0.9, true), (0.1, true)).toDF("score", "label")
    assert(QualityModel.rocAuc(oneClass, "score", "label")
      .collect()(0).isNullAt(2))
  }

  test("thresholdReport: confusion counts, null rates where undefined") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0.9, true), (0.8, false), (0.4, true), (0.1, false), (0.6, true))
      .toDF("score", "label")
    val r = QualityModel.thresholdReport(rows, "score", "label", 0.5)
      .collect()(0)
    // tp=2 (0.9T, 0.6T), fp=1 (0.8F), fn=1 (0.4T), tn=1 (0.1F)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 1L)), r.toString)
    assert(r.getDouble(4) == 0.666667 && r.getDouble(5) == 0.666667 &&
      r.getDouble(6) == 0.666667, r.toString)
    // no predicted positives: precision NULL, recall 0, f1 0 (fn > 0)
    val none = QualityModel.thresholdReport(
        Seq((0.1, true), (0.2, false)).toDF("score", "label"),
        "score", "label", 0.5)
      .collect()(0)
    assert(none.isNullAt(4) && none.getDouble(5) == 0.0 &&
      none.getDouble(6) == 0.0, none.toString)
  }

  test("populationStability: identical releases read zero; drift registers") {
    val s = spark
    import s.implicits._
    val rel = Seq(0.05, 0.15, 0.15, 0.55, 0.95).toDF("score")
    val zero = QualityModel.populationStability(rel, rel, "score")
      .collect()
    assert(zero.length == 10, "one row per bin, empty bins included")
    assert(zero.forall(_.getDouble(5) == 0.0),
      s"identical distributions must read PSI 0: ${zero.mkString(";")}")
    // mass moved from bin 0/1 to bin 9: positive terms, defined
    // everywhere (the +0.5 smoothing covers the emptied bins)
    val moved = Seq(0.95, 0.96, 0.97, 0.55, 0.98).toDF("score")
    val drift = QualityModel.populationStability(rel, moved, "score")
      .collect().map(r => r.getInt(0) -> r.getDouble(5)).toMap
    assert(drift.values.forall(v => v >= 0.0), s"PSI terms non-negative")
    assert(drift(9) > 0.1 && drift(0) > 0.0, s"drift: $drift")
  }

  test("expectedCalibrationError: n-weighted gap-mass over the bins") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0.05, true), (0.05, false), (1.0, true), (0.95, false),
      (0.55, true)).toDF("score", "label")
    val ece = QualityModel.expectedCalibrationError(
        QualityModel.calibrationReport(rows, "score", "label"))
      .collect()(0)
    assert(ece.getLong(0) == 3L && ece.getLong(1) == 5L)
    // (2*0.45 + 1*0.45 + 2*0.475) / 5 = 2.3 / 5
    assert(ece.getDouble(2) == 0.46, s"ece: ${ece.getDouble(2)}")
  }

  test("calibrationReport: null labels drop like null scores (shared contract)") {
    val s = spark
    import s.implicits._
    // Two labeled rows in bin 5 plus one null-label row: left in, the
    // null row would count in n and mean_score while sum(__pos) skips
    // it — label_rate would read 1/3 instead of 1/2 (the round-15
    // ADVICE finding). All three report operators drop it.
    val rows = Seq(
      (Some(0.55), Some(true)), (Some(0.51), Some(false)),
      (Some(0.59), None), (None, Some(true)))
      .toDF("score", "label")
    val out = QualityModel.calibrationReport(rows, "score", "label")
      .collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out(0)
    assert(r.getInt(0) == 5 && r.getLong(1) == 2L, r.toString)
    assert(r.getDouble(2) == 0.53 && r.getDouble(3) == 0.5, r.toString)
  }

  test("rocAuc quantizes inside: raw-continuous scores, bounded window") {
    val s = spark
    import s.implicits._
    // 4000 DISTINCT raw scores — the shape whose distinct-score table
    // used to approach row cardinality and unbound the single-task
    // ordered window (round-14 What's-wrong #1). With scale = 2 the
    // operator itself quantizes, so the window input is hard-bounded
    // at 101 rows.
    val raw = s.range(4000)
      .select((col("id").cast("double") / 4000.0 +
        col("id").cast("double") * 1e-9).as("score"),
        (col("id") % 3 === 0).as("label"))
    assert(raw.select(col("score")).distinct().count() == 4000L,
      "fixture must be raw-continuous (all scores distinct)")
    val frame = QualityModel.rocAuc(raw, "score", "label", scale = 2)
    val out = frame.collect()(0)
    // the same AUC as quantizing upstream and running at full scale —
    // rounding inside is semantics-preserving, not approximate-extra
    val pre = QualityModel.rocAuc(
      raw.select(round(col("score"), 2).as("score"), col("label")),
      "score", "label")
    assert(out == pre.collect()(0), "internal rounding must equal upstream")
    // bounded-work pin, falsifiable: the grouped aggregate FEEDING the
    // ordered window emitted <= 10^scale + 1 rows (4000 without the
    // internal quantization — the metric, not the plan shape, carries
    // the proof)
    val windows = PlanCheck.nodes(frame).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "rocAuc must plan its ranking window")
    val feeding = windows.flatMap(w => PlanCheck.nodes(w.child)).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.nonEmpty => a
    }
    assert(feeding.nonEmpty, "the window must consume the score aggregate")
    val outRows = feeding.head.metrics("numOutputRows").value
    assert(outRows <= 101L,
      s"distinct-score table must be bounded by 10^scale + 1, got $outRows")
  }

  test("recalibrate: PAV pooling via the min-max identity, hand-checked") {
    val s = spark
    import s.implicits._
    // bins (n, positives): bin0 (4, 2)=0.5, bin1 (4, 1)=0.25 violate
    // monotonicity -> pool to 3/8 = 0.375; bin9 (2, 2)=1.0 stands.
    val rows =
      Seq.fill(2)((0.05, true)) ++ Seq.fill(2)((0.05, false)) ++
        Seq.fill(1)((0.15, true)) ++ Seq.fill(3)((0.15, false)) ++
        Seq.fill(2)((0.95, true))
    val m = QualityModel.recalibrate(
        rows.toDF("score", "label"), "score", "label")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(m == Map(
      0 -> ((4L, 0.5, 0.375)),
      1 -> ((4L, 0.25, 0.375)),
      9 -> ((2L, 1.0, 1.0))), m.toString)
  }

  test("recalibrate: calibrated values are monotone nondecreasing in bin") {
    val docsScored = queries.CurationQueries.calibrationScored(spark, TestSpark.sf001)
    val fit = QualityModel.recalibrate(docsScored, "score", "label")
      .orderBy(col("bin")).collect()
    assert(fit.length >= 2)
    val cals = fit.map(_.getDouble(3)).toSeq
    assert(cals.zip(cals.tail).forall { case (a, b) => a <= b },
      s"isotonic fit must be monotone: ${cals.mkString(",")}")
    assert(cals.forall(c => c >= 0.0 && c <= 1.0), cals.mkString(","))
  }

  test("applyCalibration: broadcast mapping, score side never shuffles") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (0.05, true), (0.05, false), (0.15, true), (0.15, false),
      (0.95, true)).toDF("score", "label")
    val mapping = QualityModel.recalibrate(train, "score", "label")
    val corpus = s.range(2000)
      .select((col("id").cast("double") / 2000.0).as("score"))
    val applied = QualityModel.applyCalibration(corpus, "score", mapping)
    applied.collect()
    // the mapping BROADCASTS; the corpus (score-carrying) side crosses
    // no exchange at any size
    val bhj = PlanCheck.nodes(applied).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "the bin mapping must broadcast-join")
    assert(PlanCheck.exchangesCarrying(applied, "score").isEmpty,
      "scores must never cross an exchange in applyCalibration")
    // a bin the mapping never saw keeps the raw score
    val unseen = QualityModel.applyCalibration(
        Seq(0.55).toDF("score"), "score", mapping)
      .collect()(0)
    assert(unseen.getDouble(unseen.fieldIndex("calibrated_score")) == 0.55)
  }

  test("recalibration loop: ece_after <= ece_before on a shifted scorer") {
    val s = spark
    import s.implicits._
    // Systematically over-confident scorer: linear scores, labels only
    // in the top fifth — the reliability table is far off the
    // diagonal, so the isotonic remap must shrink the re-binned ECE.
    val shifted = s.range(500)
      .select(((col("id") % 10).cast("double") / 10.0 + 0.05).as("score"),
        (col("id") % 10 >= 8).as("label"))
    val before = QualityModel.expectedCalibrationError(
        QualityModel.calibrationReport(shifted, "score", "label"))
      .collect()(0).getDouble(2)
    val mapping = QualityModel.recalibrate(shifted, "score", "label")
    val applied = QualityModel.applyCalibration(shifted, "score", mapping)
    val after = QualityModel.expectedCalibrationError(
        QualityModel.calibrationReport(applied, "calibrated_score", "label"))
      .collect()(0).getDouble(2)
    assert(before > 0.1, s"fixture must start miscalibrated: $before")
    assert(after <= before, s"recalibration must not worsen ECE: " +
      s"before=$before after=$after")
    assert(after < 0.01, s"piecewise-exact remap should land near 0: $after")
  }

  test("recalibrateBy: independent isotonic fit per key == per-slice global fits") {
    val s = spark
    import s.implicits._
    // srcA monotone-violating (pools 0/1), srcB already monotone:
    // per-key fits must differ — a global fit would average them.
    val rows =
      Seq.fill(2)(("srcA", 0.05, true)) ++ Seq.fill(2)(("srcA", 0.05, false)) ++
        Seq.fill(1)(("srcA", 0.15, true)) ++ Seq.fill(3)(("srcA", 0.15, false)) ++
        Seq.fill(1)(("srcB", 0.05, false)) ++ Seq.fill(1)(("srcB", 0.05, true)) ++
        Seq.fill(2)(("srcB", 0.95, true))
    val df = rows.toDF("source", "score", "label")
    val by = QualityModel.recalibrateBy(df, "source", "score", "label")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // srcA: bins (4, 2)=0.5 and (4, 1)=0.25 violate -> pooled 3/8
    // srcB: 0.5 then 1.0 monotone -> stands
    assert(by == Map(
      ("srcA", 0) -> ((4L, 0.5, 0.375)),
      ("srcA", 1) -> ((4L, 0.25, 0.375)),
      ("srcB", 0) -> ((2L, 0.5, 0.5)),
      ("srcB", 9) -> ((2L, 1.0, 1.0))), by.toString)
    // per-key fit == the global fit run on that key's slice alone
    for (k <- Seq("srcA", "srcB")) {
      val slice = QualityModel.recalibrate(
          df.filter(col("source") === k), "score", "label")
        .collect().map(r => (k, r.getInt(0)) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(slice == by.filter(_._1._1 == k), s"slice parity for $k")
    }
    // keyed apply: (key, bin) lookup, unseen cells keep raw, the
    // corpus side never shuffles
    val mapping = QualityModel.recalibrateBy(df, "source", "score", "label")
    val applied = QualityModel.applyCalibrationBy(
      Seq(("srcA", 0.07), ("srcB", 0.07), ("srcB", 0.55), ("srcC", 0.07))
        .toDF("source", "score"),
      "source", "score", mapping)
    applied.collect()
    assert(PlanCheck.exchangesCarrying(applied, "score").isEmpty,
      "scores must never cross an exchange in applyCalibrationBy")
    val got = applied.collect().map(r => (r.getString(0), r.getDouble(1)) ->
      r.getDouble(r.fieldIndex("calibrated_score"))).toMap
    assert(got == Map(
      ("srcA", 0.07) -> 0.375, ("srcB", 0.07) -> 0.5,
      ("srcB", 0.55) -> 0.55, ("srcC", 0.07) -> 0.07), got.toString)
    // null keys drop explicitly (the documented contract), and a key
    // name colliding with a mapping output column is refused up front
    val withNullKey = QualityModel.recalibrateBy(
      df.withColumn("source",
        when(col("source") === "srcB", lit(null)).otherwise(col("source"))),
      "source", "score", "label").collect()
    assert(withNullKey.forall(_.getString(0) == "srcA"),
      s"null-key rows must not reach the mapping: ${withNullKey.toSeq}")
    val collide = intercept[IllegalArgumentException] {
      QualityModel.recalibrateBy(
        df.withColumnRenamed("source", "bin"), "bin", "score", "label")
    }
    assert(collide.getMessage.contains("collides"), collide.getMessage)
  }

  test("scorerGate: three bounds fold to deploy; unmeasurable AUC gates false") {
    val s = spark
    import s.implicits._
    val good = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("score", "label")
    val g = QualityModel.scorerGate(good, "score", "label",
        good.select("score"), minAuc = 0.9, maxEce = 0.5, maxPsi = 0.25)
      .collect()(0)
    // perfect separator vs itself: auc 1.0, psi 0, ece within 0.5
    assert(g.getBoolean(3) && g.getBoolean(4) && g.getBoolean(5) &&
      g.getBoolean(6), g.toString)
    // single-class input: AUC unmeasurable -> auc_ok FALSE (not null),
    // deploy FALSE
    val oneClass = Seq((0.9, true), (0.8, true)).toDF("score", "label")
    val oc = QualityModel.scorerGate(oneClass, "score", "label",
      oneClass.select("score"))
    val r = oc.collect()(0)
    assert(r.isNullAt(0) && !r.getBoolean(3) && !r.getBoolean(6),
      s"unmeasurable ranking must gate deploy=false: $r")
    // EMPTY input: auc AND ece are both null — every verdict column
    // must read false, never null ("unmeasurable gates FALSE" holds
    // per column, not just where the fixture happens to force it)
    val empty = good.filter(col("score") > 2.0)
    val e = QualityModel.scorerGate(empty, "score", "label",
      good.select("score")).collect()(0)
    assert(e.isNullAt(0) && e.isNullAt(1), s"empty input nulls auc+ece: $e")
    assert(!e.isNullAt(3) && !e.getBoolean(3), s"auc_ok false: $e")
    assert(!e.isNullAt(4) && !e.getBoolean(4), s"ece_ok false, not null: $e")
    assert(!e.isNullAt(5), s"psi_ok never null: $e")
    assert(!e.isNullAt(6) && !e.getBoolean(6), s"deploy false: $e")
  }

  test("populationStabilityBy: per-key PSI == the global fold per slice; " +
    "one-sided keys keep full grids; null keys drop") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("srcA", 0.05), ("srcA", 0.15), ("srcA", 0.15), ("srcA", 0.55),
      ("srcA", 0.95),
      ("srcB", 0.25), ("srcB", 0.35)).toDF("source", "score")
    val cur = Seq(
      ("srcA", 0.95), ("srcA", 0.96), ("srcA", 0.97), ("srcA", 0.55),
      ("srcA", 0.98),
      ("srcC", 0.05), ("srcC", 0.15),
      (null.asInstanceOf[String], 0.45)).toDF("source", "score")
    val by = QualityModel.populationStabilityBy(base, cur, "source", "score")
      .collect()
    // grid completeness: every key seen on EITHER side x all 10 bins —
    // srcB (vanished) and srcC (brand new) both surface; null drops
    assert(by.map(_.getString(0)).toSet == Set("srcA", "srcB", "srcC"))
    assert(by.length == 30, s"3 keys x 10 bins, got ${by.length}")
    // per-key table == the global populationStability on that slice
    for (k <- Seq("srcA", "srcB", "srcC")) {
      val slice = QualityModel.populationStability(
          base.filter(col("source") === k).select("score"),
          cur.filter(col("source") === k).select("score"), "score")
        .collect().map(r => (r.getInt(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
      val keyed = by.filter(_.getString(0) == k).map(r => (r.getInt(1),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
      assert(keyed == slice, s"slice parity for $k")
    }
    // a vanished key's current mass is all smoothing floor: PSI > 0
    val psiB = by.filter(_.getString(0) == "srcB").map(r =>
      math.round(r.getDouble(6) * 1e6)).sum
    assert(psiB > 0L, s"a vanished source must register drift: $psiB")
    // the per-key totals fold in a KEY-PARTITIONED window over the
    // post-aggregate grid — never a self-join that would re-run the
    // corpus aggregation a second time
    val frame = QualityModel.populationStabilityBy(
      base, cur, "source", "score")
    frame.collect()
    val windows = PlanCheck.nodes(frame).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "per-key totals must fold in a key-partitioned window")
  }

  test("calibrationReportBy + expectedCalibrationErrorBy: per-key == " +
    "global per slice; null keys drop; collision guards refuse") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("srcA", Some(0.05), Some(true)), ("srcA", Some(0.05), Some(false)),
      ("srcA", Some(0.95), Some(true)), ("srcA", Some(0.55), Some(true)),
      ("srcB", Some(1.0), Some(true)), ("srcB", Some(0.95), Some(false)),
      ("srcB", Some(0.59), None),      // null label: drops
      (null.asInstanceOf[String], Some(0.55), Some(true)), // null key: drops
      ("srcB", None, Some(true)))      // null score: drops
      .toDF("source", "score", "label")
    val rep = QualityModel.calibrationReportBy(
      rows, "source", "score", "label")
    val got = rep.collect().map(r => (r.getString(0), r.getInt(1)) ->
      ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.keys.map(_._1).toSet == Set("srcA", "srcB"), got.toString)
    // per-key table == the global calibrationReport on that slice
    for (k <- Seq("srcA", "srcB")) {
      val slice = QualityModel.calibrationReport(
          rows.filter(col("source") === k), "score", "label")
        .collect().map(r => (k, r.getInt(0)) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(slice == got.filter(_._1._1 == k), s"slice parity for $k")
    }
    // keyed ECE fold == the global fold on each slice
    val eceBy = QualityModel.expectedCalibrationErrorBy(rep, "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    for (k <- Seq("srcA", "srcB")) {
      val g = QualityModel.expectedCalibrationError(
          QualityModel.calibrationReport(
            rows.filter(col("source") === k), "score", "label"))
        .collect()(0)
      assert(eceBy(k) == ((g.getLong(0), g.getLong(1), g.getDouble(2))),
        s"ECE slice parity for $k")
    }
    // collision guards fire up front, not as downstream ambiguity
    for ((bad, call) <- Seq[(String, () => Any)](
      ("gap", () => QualityModel.calibrationReportBy(
        rows.withColumnRenamed("source", "gap"), "gap", "score", "label")),
      ("ece", () => QualityModel.expectedCalibrationErrorBy(rep, "ece")),
      ("psi_total", () => QualityModel.psiTotalBy(
        rows.withColumnRenamed("source", "psi_total").select("psi_total", "score"),
        rows.withColumnRenamed("source", "psi_total").select("psi_total", "score"),
        "psi_total", "score")))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("collides"), s"$bad: ${e.getMessage}")
    }
  }

  test("rocAucBy: per-key Mann-Whitney == global per slice; the ranking " +
    "window partitions on the key") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // srcA: the hand-checked tie-block fixture (AUC 0.611111)
      ("srcA", 0.9, true), ("srcA", 0.8, false), ("srcA", 0.8, true),
      ("srcA", 0.5, false), ("srcA", 0.5, false), ("srcA", 0.3, true),
      // srcB: perfect separator (AUC 1.0)
      ("srcB", 0.9, true), ("srcB", 0.8, true),
      ("srcB", 0.2, false), ("srcB", 0.1, false),
      // srcC: single class (AUC null, never a division error)
      ("srcC", 0.9, true), ("srcC", 0.1, true))
      .toDF("source", "score", "label")
    val frame = QualityModel.rocAucBy(rows, "source", "score", "label")
    val by = frame.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(by == Map(
      "srcA" -> ((3L, 3L, Some(0.611111))),
      "srcB" -> ((2L, 2L, Some(1.0))),
      "srcC" -> ((2L, 0L, None))), by.toString)
    // per-key fold == the global rocAuc on that key's slice alone
    for (k <- Seq("srcA", "srcB", "srcC")) {
      val g = QualityModel.rocAuc(
        rows.filter(col("source") === k), "score", "label").collect()(0)
      assert((g.getLong(0), g.getLong(1),
        if (g.isNullAt(2)) None else Some(g.getDouble(2))) == by(k),
        s"slice parity for $k")
    }
    // the ordered window PARTITIONS on the key and still consumes the
    // distinct-score aggregate (both halves of the scale contract)
    val windows = PlanCheck.nodes(frame).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "rocAucBy must plan its ranking window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the keyed window must partition by the key, never one global sort")
    assert(windows.forall(_.child.output.exists(_.name == "__n")),
      "the keyed window must consume the distinct-score aggregate")
  }

  test("scorerGateBy: verdict universe from the candidate; per-key parity " +
    "with the global gate; unmeasurable components gate FALSE per key") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("srcA", 0.9, true), ("srcA", 0.8, true),
      ("srcA", 0.2, false), ("srcA", 0.1, false),
      ("srcB", 0.9, true), ("srcB", 0.8, true))
      .toDF("source", "score", "label")
    val prev = Seq(
      ("srcA", 0.9), ("srcA", 0.8), ("srcA", 0.2), ("srcA", 0.1),
      ("srcRetired", 0.5)).toDF("source", "score")
    val gate = QualityModel.scorerGateBy(df, "source", "score", "label",
      prev, minAuc = 0.9, maxEce = 0.5, maxPsi = 0.25)
    val out = gate.collect().map(r => r.getString(0) -> r).toMap
    // one row per candidate key; a retired source (prev-only) emits none
    assert(out.keySet == Set("srcA", "srcB"), out.keySet.toString)
    // srcA == the global scorerGate on its slice (same bounds)
    val a = out("srcA")
    val g = QualityModel.scorerGate(
        df.filter(col("source") === "srcA"), "score", "label",
        prev.filter(col("source") === "srcA").select("score"),
        minAuc = 0.9, maxEce = 0.5, maxPsi = 0.25)
      .collect()(0)
    assert((a.getDouble(1), a.getDouble(2), a.getDouble(3)) ==
      ((g.getDouble(0), g.getDouble(1), g.getDouble(2))),
      s"slice parity: $a vs $g")
    assert((a.getBoolean(4), a.getBoolean(5), a.getBoolean(6),
      a.getBoolean(7)) ==
      ((g.getBoolean(3), g.getBoolean(4), g.getBoolean(5),
        g.getBoolean(6))), s"verdict parity: $a vs $g")
    assert(a.getBoolean(7), s"the clean separator must deploy: $a")
    // srcB: single class -> auc null but auc_ok FALSE (never null);
    // its psi vs a prev that never saw it is measured, not null
    val b = out("srcB")
    assert(b.isNullAt(1), s"srcB auc must be null: $b")
    assert(!b.isNullAt(4) && !b.getBoolean(4), s"srcB auc_ok false: $b")
    assert(!b.isNullAt(3), s"srcB psi_total measured via the grid: $b")
    assert(!b.isNullAt(7) && !b.getBoolean(7), s"srcB must not deploy: $b")
    // all three component joins broadcast (O(keys) verdict rows)
    val bhj = PlanCheck.nodes(gate).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 3,
      s"auc/ece/psi must broadcast onto the key universe, got ${bhj.size}")
    // a key column colliding with a gate output column is refused
    val collide = intercept[IllegalArgumentException] {
      QualityModel.scorerGateBy(
        df.withColumnRenamed("source", "deploy"),
        "deploy", "score", "label", prev)
    }
    assert(collide.getMessage.contains("collides"), collide.getMessage)
  }

  test("thresholdReportBy: per-key confusion == global per slice; " +
    "null keys/scores drop; collision guard refuses") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("srcA", Some(0.9), Some(true)), ("srcA", Some(0.8), Some(false)),
      ("srcA", Some(0.4), Some(true)), ("srcA", Some(0.1), Some(false)),
      ("srcA", Some(0.6), Some(true)),
      ("srcB", Some(0.9), Some(true)), ("srcB", Some(0.8), Some(true)),
      ("srcB", Some(0.7), None),       // null label: counts in no cell
      ("srcB", None, Some(true)),      // null score: drops
      (null.asInstanceOf[String], Some(0.9), Some(true))) // null key
      .toDF("source", "score", "label")
    val by = QualityModel.thresholdReportBy(
        rows, "source", "score", "label", 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by.keySet == Set("srcA", "srcB"), by.keySet.toString)
    for (k <- Seq("srcA", "srcB")) {
      val g = QualityModel.thresholdReport(
        rows.filter(col("source") === k), "score", "label", 0.5)
        .collect()(0)
      val kr = by(k)
      assert((0 to 3).forall(i => kr.getLong(i + 1) == g.getLong(i)) &&
        (4 to 6).forall(i => kr.isNullAt(i + 1) == g.isNullAt(i) &&
          (g.isNullAt(i) || kr.getDouble(i + 1) == g.getDouble(i))),
        s"slice parity for $k: $kr vs $g")
    }
    // srcB: 2 predicted positives both true, no negatives seen ->
    // precision 1.0, recall 1.0 (the null-label row counted nowhere)
    assert(by("srcB").getLong(1) == 2L && by("srcB").getLong(4) == 0L)
    val collide = intercept[IllegalArgumentException] {
      QualityModel.thresholdReportBy(
        rows.withColumnRenamed("source", "f1"), "f1", "score", "label", 0.5)
    }
    assert(collide.getMessage.contains("collides"), collide.getMessage)
  }

  test("keyed recalibration loop: ece_after <= ece_before PER SOURCE") {
    val out = SparkEntry.queries("q_recalibrate_ece_by")(
      spark, TestSpark.sf001).collect()
    assert(out.length >= 2, "multiple sources must report")
    for (r <- out) {
      assert(r.getDouble(2) <= r.getDouble(1),
        s"keyed remap must not worsen ECE for ${r.getString(0)}: $r")
    }
    // and at least one source genuinely improved (the fixture scorer
    // is miscalibrated everywhere)
    assert(out.exists(r => r.getDouble(2) < r.getDouble(1)),
      s"no source improved: ${out.mkString(";")}")
  }

  test("drift-gated budget: every truly-drifted source is quarantined; " +
    "survivors split the exact budget") {
    val out = SparkEntry.queries("q_drift_gated_budget")(
      spark, TestSpark.sf001).collect()
    assert(out.nonEmpty, "some sources must survive the drift gate")
    // the fixture drifts sources with numeric suffix % 3 == 0 (scored
    // /0.09 vs the /0.12 baseline): none may receive budget. The
    // predicate mirrors the query's TRAILING-digit-group extraction
    // exactly (not all-digits — they disagree on interior digits).
    val drifted = out.map(_.getString(0)).filter(k =>
      "([0-9]+)$".r.findFirstMatchIn(k)
        .exists(_.group(1).toInt % 3 == 0))
    assert(drifted.isEmpty, s"drifted sources got budget: ${drifted.toSeq}")
    // Hamilton allocations still sum to EXACTLY the budget
    assert(out.map(_.getLong(2)).sum == 1000000000L)
  }

  test("thresholdSelect: max-F1 point hand-checked; both objectives reported") {
    val s = spark
    import s.implicits._
    val rows = Seq((0.9, true), (0.8, false), (0.7, true),
      (0.5, false), (0.4, false)).toDF("score", "label")
    // sweep: t=0.9 f1=0.666667, t=0.8 0.5, t=0.7 0.8 (max),
    // t=0.5 0.666667, t=0.4 0.571429
    val r = QualityModel.thresholdSelect(rows, "score", "label").collect()(0)
    assert((r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((0.7, 2L, 1L, 0L, 2L)), r.toString)
    assert((r.getDouble(5), r.getDouble(6), r.getDouble(7),
      r.getDouble(8)) == ((0.666667, 1.0, 0.8, 0.666667)), r.toString)
    // the Youden sweep lands on the same point here (J = 0.666667)
    val y = QualityModel.thresholdSelect(rows, "score", "label",
      objective = "youden").collect()(0)
    assert(y.getDouble(0) == 0.7 && y.getDouble(8) == 0.666667, y.toString)
  }

  test("thresholdSelect: zero positives pick the fewest-FP point; " +
    "youden on one class emits no row") {
    val s = spark
    import s.implicits._
    val neg = Seq((0.9, false), (0.5, false), (0.2, false))
      .toDF("score", "label")
    // all candidates tie at objective 0 -> highest threshold wins
    // (the most selective filter: one FP instead of three)
    val r = QualityModel.thresholdSelect(neg, "score", "label").collect()(0)
    assert(r.getDouble(0) == 0.9 &&
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((0L, 1L, 0L, 2L)), r.toString)
    assert(r.getDouble(7) == 0.0 && r.isNullAt(6) && r.isNullAt(8),
      s"zero-positive rates: $r")
    // Youden is unmeasurable on a single class: no row, never a guess
    assert(QualityModel.thresholdSelect(neg, "score", "label",
      objective = "youden").collect().isEmpty)
    // NaN scores drop with nulls: left in, NaN would sort above every
    // real score and ship as a perfect-f1 "threshold" (NaN >= NaN)
    val withNan = Seq((Double.NaN, true), (Double.NaN, true),
      (0.8, true), (0.2, false)).toDF("score", "label")
    val sel = QualityModel.thresholdSelect(withNan, "score", "label")
      .collect()(0)
    assert(sel.getDouble(0) == 0.8 && sel.getDouble(7) == 1.0,
      s"NaN must not be an operating point: $sel")
  }

  test("thresholdSelectBy: per-key == global per slice; keyed windows; " +
    "bounded sweep grid") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("srcA", 0.9, true), ("srcA", 0.8, false), ("srcA", 0.7, true),
      ("srcA", 0.5, false), ("srcA", 0.4, false),
      ("srcB", 0.9, false), ("srcB", 0.6, true), ("srcB", 0.2, true),
      (null, 0.9, true)) // null key drops (shared keyed contract)
      .toDF("source", "score", "label")
    val frame = QualityModel.thresholdSelectBy(
      rows, "source", "score", "label")
    val by = frame.collect().map(r => r.getString(0) -> r).toMap
    assert(by.keySet == Set("srcA", "srcB"), by.toString)
    for (k <- Seq("srcA", "srcB")) {
      val g = QualityModel.thresholdSelect(
        rows.filter(col("source") === k), "score", "label").collect()(0)
      assert(by(k).toSeq.tail == g.toSeq, s"slice parity for $k")
    }
    // srcB: recall wins — t=0.2 keeps both positives (f1 0.8) over the
    // t=0.6 point that sheds one (f1 0.5)
    assert(by("srcB").getDouble(1) == 0.2 && by("srcB").getDouble(8) == 0.8,
      by("srcB").toString)
    // every sweep window partitions on the key — never one global sort
    val windows = PlanCheck.nodes(frame).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "keyed sweep windows must partition by the key")
    // bounded grid: 4000 distinct raw scores per key collapse to
    // <= 10^scale + 1 candidates per key before any window
    val raw = s.range(4000)
      .select(concat(lit("k"), (col("id") % 2).cast("string")).as("source"),
        (col("id").cast("double") / 4000.0 +
          col("id").cast("double") * 1e-9).as("score"),
        (col("id") % 3 === 0).as("label"))
    val bounded = QualityModel.thresholdSelectBy(
      raw, "source", "score", "label", scale = 2)
    bounded.collect()
    val feeding = PlanCheck.nodes(bounded).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.flatMap(w => PlanCheck.nodes(w.child)).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.groupingExpressions.nonEmpty => a
    }
    assert(feeding.nonEmpty, "the sweep must consume the score aggregate")
    val outRows = feeding.head.metrics("numOutputRows").value
    assert(outRows <= 202L,
      s"sweep grid must be bounded by keys x (10^scale + 1), got $outRows")
  }

  test("applyThresholdBy: each key filters on ITS point; keyless and " +
    "null-score rows drop; the corpus side never shuffles") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      ("srcA", "a1", Some(0.8)), ("srcA", "a2", Some(0.7)),
      ("srcA", "a3", Some(0.69)), ("srcA", "a4", None),
      // half-band: rounds UP to the grid point, so the sweep counted
      // it — the deployed filter must count it too
      ("srcA", "a5", Some(0.6999996)),
      // NaN sorts above every real score in Spark: unguarded it would
      // pass ANY threshold
      ("srcA", "a6", Some(Double.NaN)),
      ("srcB", "b1", Some(0.3)), ("srcB", "b2", Some(0.1)),
      ("srcC", "c1", Some(0.99))) // no operating point: does not ship
      .toDF("source", "id", "score")
    val thresholds = Seq(("srcA", 0.7), ("srcB", 0.2))
      .toDF("source", "threshold")
    val out = QualityModel.applyThresholdBy(
      corpus, "source", "score", thresholds)
    assert(out.select("id").collect().map(_.getString(0)).toSet ==
      Set("a1", "a2", "a5", "b1"), out.collect().mkString(";"))
    // deployment is map-only over the corpus: broadcast join, zero
    // exchanges anywhere in the filter's plan
    assert(PlanCheck.shuffles(out).isEmpty,
      "applyThresholdBy must not shuffle the corpus")
    assert(PlanCheck.nodes(out).exists {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    }, "the threshold side must broadcast")
  }

  test("psiTotal: the summed gate scalar matches the per-bin fold") {
    val s = spark
    import s.implicits._
    val rel = Seq(0.05, 0.15, 0.15, 0.55, 0.95).toDF("score")
    val moved = Seq(0.95, 0.96, 0.97, 0.55, 0.98).toDF("score")
    val perBin = QualityModel.populationStability(rel, moved, "score")
      .collect().map(r => math.round(r.getDouble(5) * 1e6)).sum
    val total = QualityModel.psiTotal(rel, moved, "score")
      .collect()(0).getDouble(0)
    assert(total == (BigDecimal(perBin) / 1000000).toDouble, s"psi: $total")
    assert(QualityModel.psiTotal(rel, rel, "score")
      .collect()(0).getDouble(0) == 0.0)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{DiffAnomaly, Lstm, Mlp, Preprocess}
import graft.ml.DiffAnomaly.{RidgeReconstructor, TrendReconstructor}

class DiffAnomalySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 40-bucket 2-tag series: x ramps, y = 2x + noise-free offset. */
  private def wide = (0 until 40)
    .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
    .toDF("bucket_ts", "tx", "ty")

  test("TrendReconstructor recovers an exact linear trend") {
    val m = new TrendReconstructor("bucket_ts", 0L).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("tx") - $"tx")).as("rx"),
      max(abs(m.predictCol("ty") - $"ty")).as("ry")).head()
    assert(resid.getDouble(0) < 1e-9 && resid.getDouble(1) < 1e-9)
  }

  test("RidgeReconstructor predicts each tag from the others exactly on linear data") {
    // ty = 2*tx + 5 exactly: cross-tag regression must recover it
    val m = new RidgeReconstructor(lambda = 1e-10).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("ty") - $"ty")).as("r")).head().getDouble(0)
    assert(resid < 1e-6)
    // and the weights must not include the target itself
    assert(!m.params.keys.exists(_ == "w_ty_2"))
  }

  test("PCA(1) reconstructs collinear data exactly and round-trips through persistence") {
    // (tx, ty) lie exactly on a line → one principal component captures all
    val m = new DiffAnomaly.PcaReconstructor(1).fit(wide, Seq("tx", "ty"))
    val resid = wide.select(
      max(abs(m.predictCol("tx") - $"tx")).as("rx"),
      max(abs(m.predictCol("ty") - $"ty")).as("ry")).head()
    assert(resid.getDouble(0) < 1e-9 && resid.getDouble(1) < 1e-9)
    // persistence round-trip via ModelBuilder state
    val tmp = java.nio.file.Files.createTempDirectory("graft-pca").toString
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.PcaReconstructor(1), nSplits = 3)
    graft.build.Persistence.save(tmp,
      graft.build.Persistence.stateOf(fitted, "pca", 0L))
    val loaded = graft.build.Persistence.load(tmp)
    val a = DiffAnomaly.anomaly(fitted, wide, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    val b = DiffAnomaly.anomaly(loaded, wide, 600L)
      .agg(sum($"`model-output.tx`")).head().getDouble(0)
    assert(a == b)
    // the SERVE path verifies the artifact checksum: a flipped byte in a
    // threshold would otherwise parse fine and score silently wrong —
    // the q80 gate recomputes sha256 but cannot protect a production
    // load it isn't in front of
    val mp = java.nio.file.Paths.get(tmp, "model.json")
    // trailing whitespace parses to the SAME model — only the checksum
    // can notice, which is exactly what this pins (any real bit-flip is
    // a strictly bigger change)
    java.nio.file.Files.writeString(mp,
      java.nio.file.Files.readString(mp) + " ")
    val e = intercept[IllegalArgumentException] {
      graft.build.Persistence.load(tmp)
    }
    assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
  }

  test("PCA with fewer components than needed leaves residuals") {
    // add a third independent dimension; PCA(1) can't reconstruct it all
    val w3 = (0 until 40).map(i =>
      (i * 600L, 10.0 + i, 25.0 + 2.0 * i, math.sin(i * 1.7) * 10.0))
      .toDF("bucket_ts", "tx", "ty", "tz")
    val m = new DiffAnomaly.PcaReconstructor(1).fit(w3, Seq("tx", "ty", "tz"))
    val resid = w3.select(max(abs(m.predictCol("tz") - $"tz"))).head().getDouble(0)
    assert(resid > 0.1)
  }

  test("fit produces last-fold thresholds and a full anomaly frame") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 3)
    assert(fitted.thresholds.featureThresholds.keySet == Set("tx", "ty"))
    assert(fitted.thresholds.perFoldAggregate.size == 3)
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 600L)
    val cols = frame.columns.toSet
    for (g <- Seq("model-input", "model-output", "tag-anomaly-scaled",
        "tag-anomaly-unscaled", "anomaly-confidence"); t <- Seq("tx", "ty"))
      assert(cols.contains(s"$g.$t"), s"missing $g.$t")
    assert(cols.contains("total-anomaly-scaled") &&
      cols.contains("total-anomaly-unscaled") &&
      cols.contains("total-anomaly-confidence"))
    assert(frame.count() == 40)
    // exact linear data → residuals ~0 → anomalies ~0
    val worst = frame.agg(max($"`total-anomaly-unscaled`")).head().getDouble(0)
    assert(worst < 1e-9)
  }

  test("dotted free-form tag names work through fit and anomaly") {
    // the reference's real tag shape: spaces and dots
    val dotted = (0 until 40)
      .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
      .toDF("bucket_ts", "GRA-YE  -23-0751X.PV", "GRA-TE -123-456")
    val tags = Seq("GRA-YE  -23-0751X.PV", "GRA-TE -123-456")
    val fitted = DiffAnomaly.fit(dotted, tags, "bucket_ts",
      new DiffAnomaly.RidgeReconstructor(), nSplits = 3)
    val frame = DiffAnomaly.anomaly(fitted, dotted, 600L)
    assert(frame.count() == 40)
    assert(frame.columns.contains("model-output.GRA-YE  -23-0751X.PV"))
    val pca = new DiffAnomaly.PcaReconstructor(1).fit(dotted, tags)
    assert(pca.params.nonEmpty)
  }

  test("ewma smoothing produces smooth columns through fit and kfcv") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(6), smoothingMethod = "ewma")
    val frame = DiffAnomaly.anomaly(fitted, wide, 600L)
    // pandas ewm has NO NaN prefix: every row gets a smoothed value
    assert(frame.filter($"`smooth-total-anomaly-scaled`".isNull).count() == 0)
    val kfcv = DiffAnomaly.fitKfcv(wide, Seq("tx", "ty"), "bucket_ts",
      new DiffAnomaly.TrendReconstructor("bucket_ts", 0L), nSplits = 5,
      window = 6, smoothingMethod = "ewma")
    assert(!kfcv.thresholds.aggregateThreshold.isNaN)
  }

  /** Wrapper hiding the segmented plan: forces the fold-grouped path
    * (and, in fitKfcv, its per-fold loop). */
  private class NoSeg(inner: DiffAnomaly.Reconstructor) extends DiffAnomaly.Reconstructor {
    def fit(train: org.apache.spark.sql.DataFrame, xTags: Seq[String],
            yTags: Seq[String],
            feature: String => org.apache.spark.sql.Column): DiffAnomaly.Fitted =
      inner.fit(train, xTags, yTags, feature)
    override def aggPlan(xTags: Seq[String], yTags: Seq[String],
                         feature: String => org.apache.spark.sql.Column) =
      inner.aggPlan(xTags, yTags, feature)
  }

  /** Noisy 60-bucket series, so thresholds and metrics are non-trivial. */
  private def noisy = (0 until 60).map { i =>
    (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
      25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0)
  }.toDF("bucket_ts", "tx", "ty")

  private val metrics = Seq[(String, (org.apache.spark.sql.Column,
    org.apache.spark.sql.Column) => org.apache.spark.sql.Column)](
    "mse" -> ((yt, yp) => avg((yt - yp) * (yt - yp))))

  private def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  /** `got` reproduces `want` within 1e-9: thresholds, per-fold
    * aggregates, fold scores, final model params, final error scaler
    * and (for pipelines) the final preprocessing chain. */
  private def assertMatches(got: DiffAnomaly.FittedDetector,
                            want: DiffAnomaly.FittedDetector, what: String): Unit = {
    def same(a: Map[String, Double], b: Map[String, Double], part: String): Unit = {
      assert(a.keySet == b.keySet, s"$what: $part keys")
      a.foreach { case (k, v) =>
        assert(close(v, b(k)), s"$what: $part $k: $v vs ${b(k)}") }
    }
    val (g, w) = (got.thresholds, want.thresholds)
    assert(close(g.aggregateThreshold, w.aggregateThreshold),
      s"$what: agg threshold ${g.aggregateThreshold} vs ${w.aggregateThreshold}")
    same(g.featureThresholds, w.featureThresholds, "feature threshold")
    assert(g.smoothFeatureThresholds.isDefined == w.smoothFeatureThresholds.isDefined)
    g.smoothFeatureThresholds.foreach(same(_, w.smoothFeatureThresholds.get, "smooth"))
    g.smoothAggregateThreshold.foreach(v =>
      assert(close(v, w.smoothAggregateThreshold.get), s"$what: smooth agg"))
    same(g.perFoldAggregate, w.perFoldAggregate, "per-fold agg")
    assert(got.foldScores.keySet == want.foldScores.keySet, s"$what: metrics")
    got.foldScores.foreach { case (k, v) =>
      assert(v.size == want.foldScores(k).size, s"$what: $k folds")
      v.zip(want.foldScores(k)).foreach { case (a, b) =>
        assert(close(a, b), s"$what: fold $k $a vs $b") }
    }
    same(got.model.params, want.model.params, "final param")
    same(got.scaler.stats.view.mapValues(_._1).toMap,
      want.scaler.stats.view.mapValues(_._1).toMap, "scaler center")
    same(got.scaler.stats.view.mapValues(_._2).toMap,
      want.scaler.stats.view.mapValues(_._2).toMap, "scaler scale")
    (got.model, want.model) match {
      case (a: graft.ml.Preprocess.PreprocessedFitted,
            b: graft.ml.Preprocess.PreprocessedFitted) =>
        assert(a.prep == b.prep, s"$what: final preprocessing chain")
      case _ => ()
    }
  }

  test("fused segmented CV matches the per-fold loop for every reconstructor") {
    // the segmented path and the fold-grouped path (NoSeg) both
    // reproduce the per-fold loop reference
    for (base <- Seq[DiffAnomaly.Reconstructor](
        new TrendReconstructor("bucket_ts", 0L),
        new RidgeReconstructor(),
        new DiffAnomaly.PcaReconstructor(1))) {
      val ref = CvLoopReference.fit(noisy, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3, window = Some(12), foldMetrics = metrics)
      assertMatches(DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts", base,
        nSplits = 3, window = Some(12), foldMetrics = metrics), ref, s"fused $base")
      assertMatches(DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 3, window = Some(12), foldMetrics = metrics),
        ref, s"grouped $base")
    }
    // KFCV: same equivalence through the complement-merge path, for
    // every reconstructor (PCA exercises the co-moment merge, ridge the
    // Gram-sum merge)
    for (base <- Seq[DiffAnomaly.Reconstructor](
        new TrendReconstructor("bucket_ts", 0L),
        new RidgeReconstructor(),
        new DiffAnomaly.PcaReconstructor(1))) {
      val fusedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        base, nSplits = 5, window = 12)
      val loopedK = DiffAnomaly.fitKfcv(noisy, Seq("tx", "ty"), "bucket_ts",
        new NoSeg(base), nSplits = 5, window = 12)
      assert(close(fusedK.thresholds.aggregateThreshold,
        loopedK.thresholds.aggregateThreshold), s"kfcv agg: $base")
      for (t <- Seq("tx", "ty"))
        assert(close(fusedK.thresholds.featureThresholds(t),
          loopedK.thresholds.featureThresholds(t)), s"kfcv $t: $base")
    }
    // windowed fold geometry (foldOffset > 0): folds computed on the
    // raw count leave lag-context GAP rows between folds — both paths'
    // segment/group boundaries and test membership must match the
    // loop's fold filters exactly
    locally {
      val base = new RidgeReconstructor()
      for (d <- Seq(1, 2)) {
        val ref = CvLoopReference.fit(noisy, Seq("tx", "ty"), "bucket_ts",
          base, nSplits = 3, window = Some(12), foldMetrics = metrics,
          foldOffset = d)
        for (b <- Seq(base, new NoSeg(base)))
          assertMatches(DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts",
            b, nSplits = 3, window = Some(12), foldMetrics = metrics,
            foldOffset = d), ref, s"offset $d $b")
      }
    }
    // target outside tag_list: ridge's extraY alias block (X=[tx], y=[ty])
    locally {
      val base = new RidgeReconstructor()
      val ref = CvLoopReference.fit(noisy, Seq("tx"), "bucket_ts", base,
        nSplits = 3, targetTags = Seq("ty"))
      for (b <- Seq(base, new NoSeg(base)))
        assertMatches(DiffAnomaly.fit(noisy, Seq("tx"), "bucket_ts", b,
          nSplits = 3, targetTags = Seq("ty")), ref, s"extraY $b")
    }
  }

  test("fold-grouped CV matches the per-fold loop for pipelines, MLP, LSTM, robust scaling and non-finite rows") {
    import graft.ml.Preprocess.{ImputerSpec, MultiplySpec, ScalerSpec}
    def pipe(inner: DiffAnomaly.Reconstructor, specs: Preprocess.StageSpec*) =
      new Preprocess.Reconstructor(inner, specs.toList)
    def pca = new DiffAnomaly.PcaReconstructor(1)
    def mlp = new Mlp.MlpReconstructor(Seq(1), epochs = 40)
    val imputeScale = Seq(ImputerSpec("minmax", 1.0), ScalerSpec("minmax"))
    // ±inf inside the first fold's train span and nulls in the second
    // fold's: imputer fills, per-group null skipping and the MLP's
    // row-wise deletion all have to agree with the loop
    def dirty(infs: Boolean) = (0 until 60).map { i =>
      def cell(v: Double, infRow: Int, inf: Double, nullRow: Int): java.lang.Double =
        if (infs && i == infRow) inf else if (i == nullRow) null else v
      (i * 600L,
        cell(10.0 + i + math.sin(i * 0.9) * 3.0, 4, Double.PositiveInfinity, 21),
        cell(25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0, 9, Double.NegativeInfinity, 27))
    }.toDF("bucket_ts", "tx", "ty")
    case class Case(what: String, base: DiffAnomaly.Reconstructor,
                    data: org.apache.spark.sql.DataFrame = noisy,
                    scaler: String = "minmax", window: Option[Int] = Some(12),
                    offset: Int = 0, scoring: Option[String] = None)
    val cases = Seq(
      Case("imputer+minmax → pca", pipe(pca, imputeScale: _*),
        scoring = Some("minmax")),
      Case("minmax → mlp", pipe(mlp, ScalerSpec("minmax"))),
      Case("bare mlp, robust scoring scaler", mlp, scoring = Some("robust")),
      Case("lstm", new Lstm.LstmReconstructor(units = 2, epochs = 10)),
      Case("robust error scaler, minmax scoring", pca, scaler = "robust",
        scoring = Some("minmax")),
      Case("stat-free stages → pca",
        pipe(pca, ImputerSpec("extremes", 0.0), MultiplySpec(2.0))),
      Case("robust → ridge, windowed folds", pipe(new RidgeReconstructor(),
        ScalerSpec("robust")), offset = 2),
      Case("imputer+minmax → pca, ±inf and nulls", pipe(pca, imputeScale: _*),
        data = dirty(infs = true)),
      Case("imputer+minmax → mlp, ±inf and nulls", pipe(mlp, imputeScale: _*),
        data = dirty(infs = true), window = None),
      Case("ridge, nulls", new RidgeReconstructor(), data = dirty(infs = false)))
    for (c <- cases) {
      val ref = CvLoopReference.fit(c.data, Seq("tx", "ty"), "bucket_ts", c.base,
        scalerKind = c.scaler, nSplits = 3, window = c.window,
        foldMetrics = metrics, foldOffset = c.offset, scoringScalerKind = c.scoring)
      val got = DiffAnomaly.fit(c.data, Seq("tx", "ty"), "bucket_ts", c.base,
        scalerKind = c.scaler, nSplits = 3, window = c.window,
        foldMetrics = metrics, foldOffset = c.offset, scoringScalerKind = c.scoring)
      assertMatches(got, ref, c.what)
    }
  }

  test("fit launches the same number of Spark jobs for 3 and 5 splits") {
    import graft.ml.Preprocess.{ImputerSpec, ScalerSpec}
    /** Jobs started while `body` ran; the listener bus is asynchronous,
      * so poll until the count is stable for 200 ms (bounded at 10 s). */
    def jobsDuring(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = -1
        var stableSince = System.nanoTime()
        while (System.nanoTime() < deadline &&
               System.nanoTime() - stableSince < 200L * 1000 * 1000) {
          if (n.get != last) { last = n.get; stableSince = System.nanoTime() }
          Thread.sleep(20)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      n.get
    }
    val prep = List(ImputerSpec("minmax", 1.0), ScalerSpec("minmax"))
    for ((what, base) <- Seq[(String, DiffAnomaly.Reconstructor)](
        "segmented pca" -> new DiffAnomaly.PcaReconstructor(1),
        "pipeline pca" -> new Preprocess.Reconstructor(
          new DiffAnomaly.PcaReconstructor(1), prep),
        "pipeline mlp" -> new Preprocess.Reconstructor(
          new Mlp.MlpReconstructor(Seq(1), epochs = 5), prep))) {
      val jobs = Seq(3, 5).map(k => jobsDuring {
        DiffAnomaly.fit(noisy, Seq("tx", "ty"), "bucket_ts", base, nSplits = k,
          window = Some(6), foldMetrics = metrics,
          scoringScalerKind = Some("minmax")): Unit
      })
      assert(jobs.head == jobs(1), s"$what: jobs for 3 vs 5 splits: $jobs")
    }
  }

  test("fused CV falls back to the loop on frames containing nulls") {
    // count(*)-weighted segment merges would diverge from null-skipping
    // aggregates; the null-integrity check must route to the fold-grouped
    // path, making fused and NoSeg results IDENTICAL (not just close),
    // and both must match the per-fold loop reference
    val withNull = (0 until 60).map { i =>
      (i * 600L, 10.0 + i + math.sin(i * 0.9) * 3.0,
        if (i == 7) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(25.0 + 2.0 * i + math.cos(i * 1.3) * 4.0))
    }.toDF("bucket_ts", "tx", "ty")
    val base = new TrendReconstructor("bucket_ts", 0L)
    val a = DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts", base,
      nSplits = 3)
    val b = DiffAnomaly.fit(withNull, Seq("tx", "ty"), "bucket_ts",
      new NoSeg(base), nSplits = 3)
    assert(a.thresholds.aggregateThreshold == b.thresholds.aggregateThreshold)
    assert(a.thresholds.featureThresholds == b.thresholds.featureThresholds)
    assert(a.model.params == b.model.params)
    assertMatches(a, CvLoopReference.fit(withNull, Seq("tx", "ty"), "bucket_ts",
      base, nSplits = 3), "nulls")
    val ak = DiffAnomaly.fitKfcv(withNull, Seq("tx", "ty"), "bucket_ts",
      base, nSplits = 5)
    val bk = DiffAnomaly.fitKfcv(withNull, Seq("tx", "ty"), "bucket_ts",
      new NoSeg(base), nSplits = 5)
    // 60 rows < the default 144 smoothing window: both paths correctly
    // yield the NaN threshold (the null-prefix percentile), so compare
    // with NaN-aware equality
    assert(java.lang.Double.compare(ak.thresholds.aggregateThreshold,
      bk.thresholds.aggregateThreshold) == 0)
    assert(ak.thresholds.aggregateThreshold.isNaN,
      "this fixture is SHORTER than the kfcv window; a non-NaN " +
        "threshold means the null-percentile guard regressed")
  }

  test("kfcv with more splits than rows tolerates empty folds") {
    val tiny = (0 until 4)
      .map(i => (i * 600L, 10.0 + i, 25.0 + 2.0 * i))
      .toDF("bucket_ts", "tx", "ty")
    val fitted = DiffAnomaly.fitKfcv(tiny, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 5, window = 2)
    assert(fitted.thresholds.featureThresholds.keySet == Set("tx", "ty"))
  }

  test("smooth columns appear with window and are null for the NaN prefix") {
    val fitted = DiffAnomaly.fit(wide, Seq("tx", "ty"), "bucket_ts",
      new TrendReconstructor("bucket_ts", 0L), nSplits = 3,
      window = Some(6), smoothingMethod = "sma")
    val frame = DiffAnomaly.anomaly(fitted, wide, resolutionSec = 600L)
    assert(frame.columns.contains("smooth-total-anomaly-scaled"))
    // pandas rolling(6): first 5 rows NaN
    assert(frame.filter($"`smooth-total-anomaly-scaled`".isNull).count() == 5)
    assert(fitted.thresholds.smoothAggregateThreshold.isDefined)
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cols.{q => qc}
import graft.ml.{CrossValidate, Scalers, Windows}
import graft.ml.DiffAnomaly.{Fitted, FittedDetector, Reconstructor, Thresholds}
import graft.ml.Scalers.FittedScaler

/** The per-fold cross-validation loop, kept as the reference both
  * `DiffAnomaly.fit` paths (segmented and fold-grouped) must reproduce:
  * per fold, fit the model and error scaler on the train span (one
  * aggregation when the model has an agg plan, else `fit` plus a scaler
  * aggregation), score the test span with every prediction inlined,
  * roll its thresholds and metrics, then refit on every row. Two or
  * more Spark passes per fold — slow on purpose, and simple enough to
  * read against the reference's `cross_validate`. */
object CvLoopReference {

  def fit(wide: DataFrame, tags: Seq[String], orderCol: String,
          base: Reconstructor, scalerKind: String = "minmax",
          nSplits: Int = 3, window: Option[Int] = None,
          foldMetrics: Seq[(String, (Column, Column) => Column)] = Nil,
          targetTags: Seq[String] = Nil, foldOffset: Int = 0,
          scoringScalerKind: Option[String] = None): FittedDetector = {
    val y = if (targetTags.isEmpty) tags else targetTags
    val (indexed0, nOpt) =
      CrossValidate.withRowIndexCounted(wide, Seq(col(orderCol)))
    val indexed = indexed0.cache()
    try {
      val n = nOpt.getOrElse(indexed.count())
      val folds =
        if (foldOffset == 0) CrossValidate.timeSeriesSplit(n, nSplits)
        else CrossValidate.timeSeriesSplit(n + foldOffset, nSplits).map(f =>
          CrossValidate.Fold(f.index, 0, f.testStart - foldOffset,
            f.testStart, f.testEnd - foldOffset))
      val widths = (6 +: window.toSeq).distinct
      val scoring = scoringScalerKind.map(Scalers.fit(_, indexed, y))
      def scl(c: Column, t: String): Column = scoring match {
        case Some(s) => (c - lit(s.stats(t)._1)) / lit(s.scaleOf(t))
        case None => c
      }
      val rollSpecs = widths.flatMap(w =>
        ("__mse", s"__rminagg__$w", "min", w) +:
          y.map(t => (s"__mae_$t", s"__rmin${w}__$t", "min", w)))
      val testAggs = widths.flatMap(w =>
        max(col(s"__rminagg__$w")).as(s"__agg__$w") +:
          y.map(t => max(qc(s"__rmin${w}__$t")).as(s"__f${w}__$t"))) ++
        (for { (name, fn) <- foldMetrics; t <- y }
          yield fn(scl(qc(s"__y_$t"), t), scl(qc(s"__p_$t"), t)).as(s"${name}__$t"))
      def fitPair(df: DataFrame): (Fitted, FittedScaler) = {
        val feat: String => Column = t => qc(t).cast("double")
        base.aggPlan(tags, y, feat) match {
          case Some((mAggs, mDec)) =>
            val (sAggs, sDec) = Scalers.aggPlan(scalerKind, y)
            val all = mAggs ++ sAggs
            val row = df.agg(all.head, all.tail: _*).head()
            (mDec(row), sDec(row))
          case None =>
            (base.fit(df, tags, y, feat), Scalers.fit(scalerKind, df, y))
        }
      }
      val results = folds.map { f =>
        val (m, sc) = fitPair(CrossValidate.trainFold(indexed, f))
        val mse = y.map { t =>
          val d = (m.predictCol(t) - qc(t)) / lit(sc.scaleOf(t))
          d * d
        }.reduce(_ + _) / lit(y.size.toDouble)
        val metricInputs =
          if (foldMetrics.isEmpty) Nil
          else y.flatMap(t =>
            Seq(qc(t).as(s"__y_$t"), m.predictCol(t).as(s"__p_$t")))
        val scored = CrossValidate.testFold(indexed, f).select(
          (col("__row") +: mse.as("__mse") +:
            (y.map(t => abs(qc(t) - m.predictCol(t)).as(s"__mae_$t")) ++
              metricInputs)): _*)
        val row = Windows.chunkedTrailingMulti(scored, "__row", f.testStart,
          rollSpecs, totalRows = f.nTest)
          .agg(testAggs.head, testAggs.tail: _*).head()
        val get: String => Double = name =>
          if (row.isNullAt(row.fieldIndex(name))) Double.NaN
          else row.getAs[Double](name)
        f -> get
      }
      val (finalModel, finalScaler) = fitPair(indexed)
      val last = results.last._2
      FittedDetector(finalModel, finalScaler,
        Thresholds(y.map(t => t -> last(s"__f6__$t")).toMap, last("__agg__6"),
          window.map(w => y.map(t => t -> last(s"__f${w}__$t")).toMap),
          window.map(w => last(s"__agg__$w")),
          results.map { case (g, get) => s"fold-${g.index}" -> get("__agg__6") }.toMap),
        tags, y, orderCol, window, "smm",
        foldMetrics.map { case (name, _) => name -> results.map { case (_, get) =>
          y.map(t => get(s"${name}__$t")).sum / y.size } }.toMap,
        folds)
    } finally indexed.unpersist()
  }
}

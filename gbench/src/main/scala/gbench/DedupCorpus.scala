package gbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Tables
import graft.llm.{Components, TextDedup}

/** `dedup_corpus`: near-duplicate clustering of a seeded corpus with
  * planted clusters of known membership. One round is the whole
  * pipeline: `TextDedup.withShingles` → `candidatePairs` →
  * `verifiedPairs` → `Components.dupClusters` → collect →
  * `Components.release`. */
final case class DedupCorpus(docs: Int = 1500, threshold: Double = 0.5,
                             recallFloor: Double = 0.85)
    extends Workload {
  val name = "dedup_corpus"

  def setup(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val corpus = Gen.corpus(ctx.seed, docs)
    val tables = ctx.dir("tables")
    spark.createDataFrame(
      java.util.Arrays.asList(corpus.docs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .repartition(ctx.cores).write.parquet(s"$tables/documents")
    val shingles = corpus.docs.map(Gen.shingles(_))
    // planted pairs the pipeline is expected to find: same planted
    // cluster and a true Jaccard at or above the threshold
    val planted = for {
      c <- corpus.clusters; Seq(a, b) <- c.combinations(2).toSeq
      if Gen.jaccard(shingles(a), shingles(b)) >= threshold
    } yield (math.min(a, b), math.max(a, b))
    new Dedup(ctx, Tables(spark, tables, "documents"), shingles, planted)
  }

  private final class Dedup(ctx: Ctx, documents: DataFrame,
                            shingles: IndexedSeq[Set[String]],
                            planted: Seq[(Int, Int)]) extends Prepared {
    /** The (document → component) map each timed pass collected. */
    private val passes = mutable.ArrayBuffer.empty[Map[Int, Long]]

    def pipeline(): (DataFrame, DataFrame) = {
      val sh = TextDedup.withShingles(documents, "id", "text").repartition(col("id"))
      val cands = TextDedup.candidatePairs(sh)
      (cands, TextDedup.verifiedPairs(sh, cands, threshold))
    }

    /** One pass; returns the collected (document → component) map. */
    def pass(tr: Tracer): Map[Int, Long] = {
      val pairs = tr.span("llm.plan")(pipeline()._2)
      val clusters = tr.span("llm.dup_clusters")(Components.dupClusters(pairs))
      val rows = try tr.span("caller.collect")(clusters.collect())
        finally tr.span("llm.release")(Components.release(clusters))
      rows.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    }

    /** Share of the planted pairs that `comp` puts in one component. */
    def recall(comp: Map[Int, Long]): Double = {
      val found = planted.count { case (a, b) => comp.get(a).exists(comp.get(b).contains) }
      if (planted.isEmpty) 1.0 else found.toDouble / planted.size
    }

    def warmUp(): Unit = pass(Tracer.off): Unit

    def run(seconds: Double, tr: Tracer): Phase = {
      val secs = mutable.ArrayBuffer.empty[Double]
      val recalls = mutable.ArrayBuffer.empty[Double]
      var failed = 0L
      Workload.until(seconds) {
        val t0 = System.nanoTime()
        try {
          val comp = tr.span("llm.pass")(pass(tr))
          secs += (System.nanoTime() - t0) / 1e9
          passes += comp
          recalls += recall(comp)
        } catch { case scala.util.control.NonFatal(e) =>
          failed += 1; Run.log(s"dedup_corpus: pass failed: $e")
        }
      }
      val n = secs.size.toDouble
      Phase(n.toLong + failed, failed, docs * n, secs.sum, secs.map(_ * 1e3).toSeq, n, Map(
        "dedup.docs_per_s" -> docs * n / secs.sum,
        "llm.recall" -> Stats.median(recalls),
        "llm.clusters" -> passes.lastOption.map(_.values.toSet.size.toDouble).getOrElse(0.0)))
    }

    /** Every verified pair's Jaccard, recomputed here, meets the
      * threshold; each pass's clusters are exactly the connected
      * components of the verified pairs, and their recall of the
      * planted pairs meets the floor. */
    def check(): Long = {
      val pairs = pipeline()._2.collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      val bad = pairs.count { case (a, b) => Gen.jaccard(shingles(a), shingles(b)) < threshold }
      if (bad > 0) Run.log(s"dedup_corpus: $bad verified pairs are below Jaccard $threshold")
      val want = DedupCorpus.components(pairs.toSeq)
      val wrong = passes.count { comp =>
        val r = recall(comp)
        if (r < recallFloor) Run.log(s"dedup_corpus: a pass's recall $r is below $recallFloor")
        if (comp != want) Run.log(s"dedup_corpus: a pass's ${comp.size} clustered documents " +
          s"differ from the ${want.size} in the verified pairs' components")
        r < recallFloor || comp != want
      }
      wrong + (if (bad > 0) 1 else 0)
    }

    /** Candidate and verified pair counts of one extra pass. */
    override def layers(): Map[String, Double] = {
      val (cands, pairs) = pipeline()
      val (c, v) = (cands.count().toDouble, pairs.count().toDouble)
      Map("llm.candidate_pairs" -> c, "llm.verified_pairs" -> v, "llm.useful_ratio" -> v / c)
    }

    def release(): Unit = ()
  }
}

object DedupCorpus {
  /** Connected components of `pairs`: every document in a pair, mapped
    * to the smallest document it is connected to. */
  def components(pairs: Seq[(Int, Int)]): Map[Int, Long] = {
    val parent = mutable.Map.empty[Int, Int]
    def find(x: Int): Int = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    // linking the larger root under the smaller keeps each root the
    // smallest document of its component
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x).toLong).toMap
  }
}

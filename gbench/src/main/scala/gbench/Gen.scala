package gbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators, one per workload family. The same seed
  * always gives the same inputs; each draw stream is keyed by name, so
  * adding a consumer never shifts another's draws. */
object Gen {

  def rng(seed: Long, stream: String): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** 2024-01-01T00:00:00Z, the start of every generated history. */
  val Epoch0 = 1704067200L

  // ---- sensor long frame ----

  /** A tag's signal: level + amplitude·sin(2π·minute/period + phase),
    * plus Gaussian noise of `noise`. */
  final case class Signal(level: Double, amp: Double, periodMin: Double,
                          phase: Double, noise: Double) {
    def at(minute: Double, r: Random): Double =
      level + amp * math.sin(2 * math.Pi * minute / periodMin + phase) +
        noise * r.nextGaussian()
  }

  def signal(seed: Long, tag: String): Signal = {
    val r = rng(seed, s"signal/$tag")
    val amp = 2 + 8 * r.nextDouble()
    Signal(20 + 60 * r.nextDouble(), amp, 180 + 540 * r.nextDouble(),
      2 * math.Pi * r.nextDouble(), 0.05 * amp)
  }

  /** Gaps in minutes [from, until): two shorter than `limitMin` (which
    * interpolation bridges) and one longer (which it must not). */
  def gaps(r: Random, minutes: Int, limitMin: Int): Seq[(Int, Int)] = {
    def at(len: Int) = { val s = 60 + r.nextInt(minutes - len - 120); (s, s + len) }
    Seq(at(limitMin / 3 + r.nextInt(limitMin / 3)),
      at(limitMin / 3 + r.nextInt(limitMin / 3)),
      at(2 * limitMin + r.nextInt(limitMin)))
  }

  val SensorSchema: StructType = StructType(Seq(
    StructField("tag", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  /** Raw 1-minute history per tag, `minutes` long from [[Epoch0]]:
    * timestamps jittered by up to ±15 s, [[gaps]] cut out, about 0.5 %
    * of readings repeated at the same timestamp, and (with `infs`) about
    * 0.05 % of readings replaced by ±Infinity; without `infs` those
    * readings keep their finite value and every other row is the same.
    * Rows come out in time order per tag. */
  def sensorRows(seed: Long, tags: Seq[String], minutes: Int,
                 limitMin: Int, infs: Boolean): Seq[(String, Long, Double)] =
    tags.flatMap { tag =>
      val sig = signal(seed, tag)
      val r = rng(seed, s"sensor/$tag")
      val cut = gaps(r, minutes, limitMin)
      (0 until minutes).iterator.filterNot(m => cut.exists { case (a, b) => m >= a && m < b })
        .flatMap { m =>
          val tsMs = (Epoch0 + m * 60L) * 1000L + (r.nextInt(30001) - 15000)
          val v0 = sig.at(m, r)
          val glitch = r.nextDouble() < 0.0005
          val sign = r.nextBoolean()
          val v = if (infs && glitch) (if (sign) Double.PositiveInfinity else Double.NegativeInfinity)
            else v0
          val main = (tag, tsMs, v)
          if (r.nextDouble() < 0.005) Iterator(main, (tag, tsMs, sig.at(m, r)))
          else Iterator(main)
        }.toSeq
    }

  def sensorFrame(spark: SparkSession, rows: Seq[(String, Long, Double)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (t, ms, v) => Row(t, new Timestamp(ms), v) }.asJava,
      SensorSchema)

  // ---- project YAML ----

  /** One machine of a generated project. */
  final case class MachineDef(name: String, tags: Seq[String], model: String,
                              smoothing: Boolean, trainStart: String,
                              trainEnd: String)

  def iso(epochSec: Long): String = java.time.Instant.ofEpochSecond(epochSec).toString

  val AutoEncoder = "autoencoder"
  val Pca = "pca"

  /** `m` machines of 4 tags each over a pool of `tags`. Machines come in
    * groups of three that share every dataset setting but their tags
    * (the library shares one resample pass per such group), and every
    * fourth machine is a singleton with a train window of its own.
    * Models alternate between the hourglass autoencoder and PCA; every
    * third machine smooths its anomaly scores over a window. */
  def machines(seed: Long, m: Int, tags: Seq[String], minutes: Int): Seq[MachineDef] = {
    val r = rng(seed, "project")
    val end = Epoch0 + minutes * 60L
    (0 until m).map { i =>
      val group = i / 4
      val singleton = i % 4 == 3
      // group g trains from g hours in; a singleton also ends early
      val start = Epoch0 + group * 3600L + (if (singleton) 1800L else 0L)
      val stop = end - (if (singleton) 5400L else 0L)
      MachineDef(f"machine-$i%02d", r.shuffle(tags.toList).take(4),
        if (i % 2 == 0) AutoEncoder else Pca, smoothing = i % 3 == 0,
        iso(start), iso(stop))
    }
  }

  /** The machine's model: a DiffBasedAnomalyDetector over the base
    * estimator, behind gordo's InfImputer and MinMaxScaler when
    * `pipeline`, bare otherwise. */
  def modelYaml(d: MachineDef, indent: String, pipeline: Boolean): String = {
    val est = d.model match {
      case AutoEncoder =>
        """gordo.machine.model.models.KerasAutoEncoder:
          |  kind: feedforward_hourglass""".stripMargin
      case _ =>
        """sklearn.decomposition.PCA:
          |  n_components: 2""".stripMargin
    }
    val base =
      if (!pipeline) est.linesIterator.map("    " + _).mkString("\n")
      else "    sklearn.pipeline.Pipeline:\n      steps:\n" +
        "      - gordo.machine.model.transformers.imputer.InfImputer\n" +
        "      - sklearn.preprocessing.MinMaxScaler\n" +
        est.linesIterator.zipWithIndex.map { case (l, i) =>
          (if (i == 0) "      - " else "          ") + l }.mkString("\n")
    val smooth = if (d.smoothing) "\n  window: 6\n  smoothing_method: smm" else ""
    s"""gordo.machine.model.anomaly.diff.DiffBasedAnomalyDetector:
       |  base_estimator:
       |$base$smooth""".stripMargin.linesIterator.map(indent + _).mkString("\n")
  }

  /** A project config in gordo's YAML: default dataset block (10T
    * resolution, linear interpolation) with an explicit interpolation
    * limit, and a 3-fold TimeSeriesSplit. */
  def projectYaml(defs: Seq[MachineDef], limitMin: Int, pipeline: Boolean = true): String = {
    val ms = defs.map { d =>
      s"""- name: ${d.name}
         |  dataset:
         |    tag_list: [${d.tags.mkString(", ")}]
         |    train_start_date: ${d.trainStart}
         |    train_end_date: ${d.trainEnd}
         |  model:
         |${modelYaml(d, "    ", pipeline)}""".stripMargin
    }
    s"""globals:
       |  dataset:
       |    resolution: 10T
       |    interpolation_method: linear_interpolation
       |    interpolation_limit: ${limitMin}T
       |  evaluation:
       |    cv:
       |      sklearn.model_selection.TimeSeriesSplit:
       |        n_splits: 3
       |machines:
       |${ms.mkString("\n")}
       |""".stripMargin
  }

  // ---- document corpus ----

  final case class Corpus(docs: IndexedSeq[String], clusters: Seq[Seq[Int]])

  /** `n` documents of 30–80 words over a Zipf-weighted vocabulary of
    * 5000 words. About one document in eight seeds a planted
    * near-duplicate cluster of 1–3 extra variants, each with 5 % of its
    * words replaced, and about one in fifty gets an exact copy. Ids are
    * shuffled, so cluster members are not adjacent. `clusters` lists
    * the planted membership by id. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, "corpus")
    val vocab = 5000
    val cdf = {
      val w = (1 to vocab).map(k => 1.0 / math.pow(k, 0.8))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      s"w${if (i >= 0) i else math.min(-i - 1, vocab - 1)}"
    }
    def doc(): Vector[String] = Vector.fill(30 + r.nextInt(51))(word())
    def variant(d: Vector[String]): Vector[String] =
      d.map(w => if (r.nextDouble() < 0.05) word() else w)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Vector[String]]]
    var total = 0
    while (total < n) {
      val d = doc()
      val g =
        if (r.nextDouble() < 0.125) d +: Seq.fill(1 + r.nextInt(3))(variant(d))
        else if (r.nextDouble() < 0.02) Seq(d, d)
        else Seq(d)
      val kept = g.take(n - total)
      groups += kept
      total += kept.size
    }
    val order = r.shuffle((0 until n).toVector)
    val docs = Array.ofDim[String](n)
    var k = 0
    val clusters = groups.map { g =>
      g.map { d => val id = order(k); docs(id) = d.mkString(" "); k += 1; id }
    }.filter(_.size > 1).toSeq
    Corpus(docs.toIndexedSeq, clusters)
  }

  /** Distinct word 3-gram shingles, as the library's dedup defines them. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.trim.split(" ")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size
}

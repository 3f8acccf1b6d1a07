package graft.llm

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a pair list — the dedup-cluster
  * resolution step: near-dup PAIRS (MinHash/SimHash/Jaccard output) are
  * not transitive, so "keep one copy per group" needs the transitive
  * closure. Reference curation analogue: the dedup keep-policy applied
  * after pairwise similarity (cf. gordo's row-filter keep-first
  * semantics); the algorithm itself is the alternating min-label
  * propagation with pointer jumping (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — the large/small-star
  * family).
  *
  * Scale design: the loop runs on pair RDDs that all share ONE
  * `HashPartitioner(spark.sql.shuffle.partitions)`. The symmetrized
  * adjacency list is built, keyed by node and cached once; each round
  * joins the node labels to it without a shuffle, takes the min over
  * each node's own and its neighbors' labels (`reduceByKey`, map-side
  * combined), then pointer-jumps — label := label(label), re-keyed by
  * label and back by node — which halves chain depth, giving
  * O(log diameter) rounds instead of O(diameter) for plain propagation.
  * A round ends in ONE action: the new labels are checkpointed (lineage
  * cut, so 40-round worst cases don't replay 40 joins deep) and a
  * co-partitioned join with the old labels counts the changed nodes.
  * So a round is one Spark job and no query planning: at dedup scale
  * the per-round fixed cost of analyzing, optimizing and code-generating
  * fresh DataFrame queries was most of the loop's time. The driver sees
  * only the per-round changed-count (one long), never row data.
  *
  * Node ids are keyed as one-field `UnsafeRow`s and ordered by Spark's
  * own SQL ordering for their type, so every orderable type (numbers,
  * strings, dates, binary, structs) takes the same code path and
  * "min" means what SQL's `min` means.
  *
  * Storage lifecycle: checkpointed label RDDs hold RDD-level blocks that
  * `Dataset.unpersist` (the CacheManager path) never touches — each
  * superseded round's blocks are released in-loop, so a run holds at
  * most TWO rounds of state regardless of iteration count, and
  * [[release]] frees the RETURNED frame's blocks (and reliable-checkpoint
  * files) once the caller has materialized what it needs. Repeated calls
  * in one session return storage to baseline — ComponentsSpec pins this.
  */
object Components {

  /** The RDDs a frame reads: the LogicalRDD leaves of its plan and
    * their whole RDD lineage. A returned frame's leaf is the row
    * conversion of the final labels checkpoint, and derived frames
    * (dupClusters output) keep that leaf, so the walk reaches ours. */
  private def ckptRdds(df: DataFrame): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.Map.empty[Int, RDD[_]]
    def walk(r: RDD[_]): Unit =
      if (!seen.contains(r.id)) {
        seen(r.id) = r
        r.dependencies.foreach(d => walk(d.rdd))
      }
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd)
      case _ =>
    }
    seen.values.toSeq
  }

  /** Checkpoints THIS module created — [[release]] only ever frees
    * these, so calling it on a frame whose lineage contains some
    * caller-owned RDD (an upstream localCheckpoint, say) can never
    * unpersist storage it doesn't own. Keyed (applicationId, rddId),
    * NOT the bare RDD id: ids are SparkContext-scoped and restart from
    * 0 in a new context, so a stale id from an unreleased prior-context
    * frame would alias a new context's caller-owned RDD and let
    * release() destroy storage it never created. */
  private val ourCkpts = scala.collection.mutable.Set.empty[(String, Int)]

  private def ckptKey(r: RDD[_]): (String, Int) =
    (r.context.applicationId, r.id)

  /** Release one module-created checkpoint RDD: blocks, and (reliable
    * mode) the checkpoint files. Registry-guarded — any other RDD,
    * caller-owned or never checkpointed, is left untouched. */
  private def releaseRdd(r: RDD[_],
                         hconf: org.apache.hadoop.conf.Configuration): Unit =
    if (ourCkpts.synchronized(ourCkpts.remove(ckptKey(r)))) {
      r.unpersist(false)
      r.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).delete(p, true): Unit
      }
    }

  /** Release the storage backing a frame returned by
    * [[connectedComponents]] / [[dupClusters]]: the localCheckpoint
    * blocks (RDD-level — unreachable through `Dataset.unpersist`) and,
    * in reliable-checkpoint mode, the checkpoint files. Call once the
    * result is materialized (written/collected); the frame must not be
    * evaluated again afterwards. No-op on frames this module didn't
    * checkpoint (enforced by the ownership registry). A returned
    * frame's lineage contains exactly its OWN checkpoint (the cut
    * truncated everything upstream); on a frame that composes several
    * returned results, this releases each of them. */
  def release(components: DataFrame): Unit = {
    val hconf = components.sparkSession.sessionState.newHadoopConf()
    ckptRdds(components).foreach(releaseRdd(_, hconf))
  }

  /** [[release]] for harness callers (Verify/Bench): never throws.
    * Returns the failure rendered as `"release: <detail>"` so the
    * harness can surface it in its machine-readable record — a silent
    * release failure would reintroduce the exact per-rep leak release()
    * exists to prevent, invisibly. Fatal JVM errors still propagate. */
  def releaseQuietly(components: DataFrame): Option[String] =
    try { release(components); None }
    catch { case scala.util.control.NonFatal(e) =>
      Some("release: " +
        Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
    }

  /** Connected components of the undirected graph given by `edges`
    * (columns `a`, `b`, any orderable type). Returns (node, component)
    * where component = min node id reachable — one row per node that
    * appears in at least one edge (isolated nodes carry no dedup
    * information and are not materialized). A null id is no node: an
    * edge with a null end links nothing and is dropped.
    *
    * @param reliableCheckpoint when set, per-round lineage cuts use a
    *   reliable `checkpoint()` into this directory (a cluster FS path in
    *   production) instead of `localCheckpoint()`: a lost executor
    *   recomputes from the checkpoint files and the job SURVIVES — the
    *   HA configuration for long dedup runs. Default (None) keeps
    *   localCheckpoint: bounded lineage, but an executor loss mid-run
    *   fails the job loudly and it must rerun — the accepted trade for
    *   zero-infrastructure runs. Sets the SparkContext checkpoint dir
    *   (a context-global knob) if unset or different. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 40,
                          reliableCheckpoint: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(edges, maxIter, reliableCheckpoint)._1

  /** [[connectedComponents]] plus the number of rounds the loop ran —
    * the observable the scale probe records (pointer jumping converges
    * in O(log diameter) rounds; plain propagation would need O(diameter)
    * and blow the maxIter budget on deep chains). */
  def connectedComponentsWithRounds(edges: DataFrame,
                                    maxIter: Int = 40,
                                    reliableCheckpoint: Option[String] = None)
      : (DataFrame, Int) = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val hconf = spark.sessionState.newHadoopConf()
    reliableCheckpoint.foreach { dir =>
      // setCheckpointDir stores an FS-QUALIFIED, uuid-suffixed SUBPATH
      // (e.g. file:/dir/<uuid>) — comparing it to the raw dir is always
      // false, which would re-set (and clobber) the context-global
      // checkpoint dir on every call; compare the stored path's PARENT.
      // Compare FULLY-QUALIFIED URIs (scheme + authority + path), not
      // the bare path component: hdfs://nn/ckpt and a later local
      // /ckpt request share a path but are different filesystems, and
      // a path-only match would silently keep checkpointing to the
      // wrong durability domain. Qualify with the CONTEXT's Hadoop conf
      // — the one setCheckpointDir itself qualifies the stored path
      // with; qualifying with the session conf would make the equality
      // permanently false whenever the two diverge on fs.defaultFS,
      // re-setting (and clobbering) the context-global dir every call
      val wantPath = new org.apache.hadoop.fs.Path(dir)
      val want = wantPath.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(wantPath).toUri
      val already = sc.getCheckpointDir.exists { cur =>
        val p = new org.apache.hadoop.fs.Path(cur)
        Option(p.getParent).exists(_.toUri == want)
      }
      if (!already) sc.setCheckpointDir(dir)
    }
    // both endpoints share the type a union of the two columns would
    // widen them to (an int `a` beside a long `b` keys as long), read in
    // ONE scan of the caller's edges
    val idType = edges.select(col("a")).union(edges.select(col("b")))
      .schema.head.dataType
    val pairs = edges
      .select(col("a").cast(idType), col("b").cast(idType))
      .where(col("a").isNotNull && col("b").isNotNull)
    // every RDD below is placed by this one partitioner, so each join is
    // a narrow (zip-like) dependency and only re-keying shuffles
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val lesser = (x: UnsafeRow, y: UnsafeRow) => if (ord.lteq(x, y)) x else y
    type Labels = RDD[(UnsafeRow, UnsafeRow)]
    // symmetrized, deduplicated adjacency list keyed by node: built and
    // cached ONCE; the loop only ever reads it in place
    val adj = pairs.queryExecution.toRdd.mapPartitions { rows =>
      val a = UnsafeProjection.create(BoundReference(0, idType, nullable = true))
      val b = UnsafeProjection.create(BoundReference(1, idType, nullable = true))
      rows.flatMap { r =>
        val (x, y) = (a(r).copy(), b(r).copy())
        Iterator(x -> y, y -> x)
      }
    }.groupByKey(part).mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every node starts as its own label, on adj's partitioning
    var labels: Labels =
      adj.mapPartitions(_.map { case (n, _) => n -> n },
        preservesPartitioning = true)
    var next: Labels = null
    var it = 0
    var converged = false
    try {
      while (!converged && it < maxIter) {
        // 1. each node's min over its own label and its neighbors' labels
        val stepped = adj.join(labels, part)
          .flatMap { case (n, (nbrs, l)) =>
            Iterator.single(n -> l) ++ nbrs.iterator.map(_ -> l)
          }
          .reduceByKey(part, lesser)
        // 2. pointer jump: label := label(label) — halves chain depth, the
        //    O(log d) ingredient (plain propagation walks one hop per
        //    round). Re-key by label to meet the label's own row, then
        //    re-key back by node for the next round's narrow joins
        next = stepped.map(_.swap).leftOuterJoin(stepped, part)
          .map { case (l, (n, parent)) => n -> parent.fold(l)(lesser(l, _)) }
          .partitionBy(part)
        // checkpoint TRUNCATES lineage once the count below materializes
        // it. localCheckpoint blocks die with their executor (job fails
        // loudly, rerun); the reliableCheckpoint knob writes files a lost
        // executor recovers from — persisted first, so the file write
        // reads the round's blocks instead of recomputing the round
        if (reliableCheckpoint.isDefined) {
          next.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
        } else next.localCheckpoint()
        ourCkpts.synchronized(ourCkpts.add(ckptKey(next))): Unit
        // the round's ONE job: computes and stores `next`, and counts the
        // nodes whose label moved. If it dies partway, `next`'s stored
        // blocks are released by the finally (it never became `labels`)
        val changed = next.join(labels, part)
          .filter { case (_, (now, before)) => now != before }
          .count()
        // `next` is self-contained now: release the superseded round
        // (a no-op for the initial labels, which are no checkpoint)
        releaseRdd(labels, hconf)
        labels = next
        next = null
        converged = changed == 0
        it += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds")
    } finally {
      // on the non-convergence throw (or any job failure) drop every
      // block this call pinned — including a mid-materialization `next`;
      // on success only the RETURNED frame's checkpoint survives, and
      // [[release]] frees it once the caller has materialized results
      adj.unpersist(false)
      if (next != null) releaseRdd(next, hconf)
      if (!converged) releaseRdd(labels, hconf)
    }
    val rows = labels.mapPartitions { ls =>
      val toScala = CatalystTypeConverters.createToScalaConverter(idType)
      ls.map { case (n, c) =>
        Row(toScala(n.get(0, idType)), toScala(c.get(0, idType)))
      }
    }
    (spark.createDataFrame(rows, StructType(Seq(
      StructField("node", idType, nullable = false),
      StructField("component", idType, nullable = false)))), it)
  }

  /** Dedup-cluster table from near-dup pairs: component id (= smallest
    * doc id in the cluster, the kept representative), per-doc keep flag,
    * and cluster size. The result's scan leaf is the components
    * checkpoint — materialize it (write/collect), then free the blocks
    * with [[release]] on this frame. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b", maxIter: Int = 40,
                  reliableCheckpoint: Option[String] = None): DataFrame = {
    // thread the closure knobs through: dupClusters is THE dedup write
    // side, and without these a production run could not reach the
    // executor-loss-resilient (reliable checkpoint) configuration the
    // closure documents without reimplementing the keep/size logic
    val cc = connectedComponents(
      pairs.select(col(idA).as("a"), col(idB).as("b")),
      maxIter, reliableCheckpoint)
    // cluster size as a window count instead of a groupBy + self-join
    // (r14): same values, one exchange on `component` instead of two
    // plus a second scan of the labels frame (guide §2.4)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    cc.select(col("node").as("doc_id"), col("component"),
      (col("node") === col("component")).as("keep"),
      count(lit(1)).over(w).as("n_docs"))
  }
}

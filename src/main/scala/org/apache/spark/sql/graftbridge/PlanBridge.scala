package org.apache.spark.sql.graftbridge

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation

/** Plan-introspection shims (`private[sql]` types), sitting inside the
  * org.apache.spark.sql package like [[ColumnBridge]]. */
object PlanBridge {

  /** Checkpoint `df` (eagerly; reliable or local per `reliable`) and
    * SURFACE the executed plan's real output layout on the resulting
    * LogicalRDD leaf — the one thing `Dataset.checkpoint` loses under
    * AQE: `AdaptiveSparkPlanExec.outputPartitioning` is the SparkPlan
    * default `UnknownPartitioning`, so every checkpoint taken with AQE
    * on (always, here) erases the partitioning the frame paid a
    * shuffle to establish, and every keyed consumer of the barriered
    * frame re-pays an exchange Catalyst could have elided (guide
    * §2.4: two operations keyed the same way share one exchange).
    *
    * Truth discipline — the surfaced layout is READ from the final
    * adaptive physical plan after execution, never asserted by the
    * caller: a claimed-but-false HashPartitioning would silently
    * corrupt every downstream aggregation. Partitioning is surfaced
    * only when it is a (possibly AQE-coalesced) hash partitioning
    * whose expressions resolve entirely within the checkpoint output
    * and whose partition count equals the checkpointed RDD's;
    * anything else (round-robin, range, single, unknown) degrades to
    * UnknownPartitioning exactly as before. Output ordering is
    * surfaced under the same resolve-or-drop rule (the longest prefix
    * of sort keys that resolves), since `rdd.map(_.copy())` preserves
    * within-partition row order. Stats and constraints are rewritten
    * onto the checkpoint output via the same helper
    * `Dataset.checkpoint` uses, so broadcast-size estimation behaves
    * identically to a plain checkpoint.
    *
    * The MATERIALIZING action also counts — all rows (`boolCol` None)
    * or rows where the named boolean column is true — so an iterative
    * caller (ConnectedComponents' per-round convergence test,
    * GraphExpand's frontier-drained test) reads its loop condition from
    * the checkpoint job itself instead of paying a second job to
    * re-scan the frame it just materialized. The count is computed
    * from the same rows the checkpoint writes, in the same pass a bare
    * `rdd.count()` would have made. */
  def checkpointCounting(
      df: DataFrame,
      reliable: Boolean,
      boolCol: Option[String]): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    // mirror Dataset.checkpoint: execute the plan (with AQE this
    // materializes every query stage and fixes the final plan), copy
    // the unsafe rows (the iterator reuses its buffer), checkpoint,
    // then an eager count to materialize checkpoint blocks/files
    val rdd = qe.toRdd.map(_.copy())
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    val phys = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // final, post-execution
      case p => p
    }
    val logicalOut = ds.logicalPlan.output
    val attrMap = positional(phys.output, logicalOut)
    // the eager materialization action, counting as it goes; the
    // checkpoint (reliable or local) triggers on this job's completion
    // exactly as it would for Dataset.checkpoint's bare count()
    val count = boolCol match {
      case None => rdd.count()
      case Some(name) =>
        val i = boolColumnIndex(logicalOut, name)
        rdd.mapPartitions { it =>
          var c = 0L
          while (it.hasNext) {
            val r = it.next()
            if (!r.isNullAt(i) && r.getBoolean(i)) c += 1
          }
          Iterator.single(c)
        }.fold(0L)(_ + _)
    }
    @tailrec def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val outSet = AttributeSet(logicalOut)
    def rewriteHash(hp: HashPartitioning): Option[HashPartitioning] = {
      val r = hp.transformUp { case a: Attribute =>
        attrMap.getOrElse(a, a) }.asInstanceOf[HashPartitioning]
      if (r.references.subsetOf(outSet)) Some(r) else None
    }
    val n = rdd.getNumPartitions
    val surfaced: Partitioning = firstLeaf(phys.outputPartitioning) match {
      case hp: HashPartitioning if hp.numPartitions == n =>
        rewriteHash(hp).getOrElse(UnknownPartitioning(n))
      case chp: CoalescedHashPartitioning if chp.numPartitions == n =>
        rewriteHash(chp.from).map(h => chp.copy(from = h))
          .getOrElse(UnknownPartitioning(n))
      case _ => UnknownPartitioning(n)
    }
    val ordering = phys.outputOrdering
      .map(so => so.transformUp { case a: Attribute => attrMap.getOrElse(a, a) }
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder])
      .takeWhile(_.references.subsetOf(outSet))
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    (classic.Dataset.ofRows(
      session,
      LogicalRDD(logicalOut, rdd, surfaced, ordering, isStreaming = false)(
        session, stats, constraints).newInstance()),
      count)
  }

  /** Physical output attributes mapped positionally onto the logical
    * output (the association `Dataset.checkpoint` relies on for stats).
    * A checkpoint's rows are physical and its schema logical, and both
    * the counted column and the surfaced layout are read by position,
    * so unequal arity is refused. */
  def positional(phys: Seq[Attribute], logical: Seq[Attribute]): Map[Expression, Expression] = {
    require(phys.size == logical.size,
      s"checkpointCounting: physical arity ${phys.size} != logical ${logical.size}")
    phys.zip(logical).map { case (p, l) => (p: Expression) -> (l: Expression) }.toMap
  }

  /** The position of boolean column `name` in `out`, which must hold
    * exactly one column of that name: the count reads rows by position,
    * so a duplicate name would silently count the wrong column. */
  def boolColumnIndex(out: Seq[Attribute], name: String): Int = {
    val at = out.indices.filter(out(_).name == name)
    require(at.size == 1 && out(at.head).dataType == org.apache.spark.sql.types.BooleanType,
      s"checkpointCounting: need exactly one boolean column '$name' in " +
        out.map(_.name).mkString(", "))
    at.head
  }

  /** The exact number of scan partitions the plan's leaves will
    * produce, when statically knowable WITHOUT converting the plan to
    * an RDD: JDBC V1 relations carry their partition array (1 when no
    * partitioning options were given — the classic single-threaded
    * JDBC read). File scans return None (split-count is size-driven;
    * estimate from stats instead). */
  def jdbcLeafPartitions(df: DataFrame): Option[Int] = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val jdbc = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[JDBCRelation] =>
        l.relation.asInstanceOf[JDBCRelation].parts.length
    }
    if (jdbc.nonEmpty && jdbc.length == leaves.length) Some(jdbc.sum) else None
  }

  /** Reliable-checkpoint file paths backing the frame's LogicalRDD
    * leaves — exactly the files `Dataset.checkpoint(eager = true)`
    * wrote for this frame. Empty for localCheckpoint frames (their
    * RDDs report no checkpoint file) and for any non-checkpoint leaf,
    * so a caller can delete the returned paths without mode checks. */
  def checkpointFiles(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
    }.flatten
}

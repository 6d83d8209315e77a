package graft.engine

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage cut for iterative operators (PageRank, BFS, connected
  * components, k-core, k-means): every round must truncate its plan or
  * round i replays rounds 1..i-1.
  *
  * Two paths, selected by the `graft.checkpoint.dir` runtime conf:
  *  - unset (default): `localCheckpoint` with SERIALIZED, spillable
  *    storage (MEMORY_AND_DISK_SER). The deserialized default kept
  *    whole per-round edge/rank tables as Java objects — at the 20×
  *    probe the graph pack crossed the JVM storage budget and went
  *    5× superlinear on eviction thrash; serialized blocks are
  *    several times smaller and degrade to sequential disk I/O
  *    instead of recompute storms.
  *  - set to a directory: reliable `checkpoint()` into it — what a
  *    1000-executor job over hours actually needs (HDFS/object-store
  *    path; survives executor loss, costs a write+read per round).
  *
  * Both are eager, so the caller's "materialize the round here" intent
  * is identical on either path. Round loops go through [[Fixpoint]],
  * which pairs each `cut` with a [[release]] of the PREVIOUS round's
  * cut once the new round is materialized — without it every round's
  * blocks stay resident for the whole run and the store holds
  * `rounds ×` the working set instead of ~2×.
  */
object Checkpoints {
  val ConfKey = "graft.checkpoint.dir"

  /** The configured reliable-checkpoint root, pointed at on the
    * context; None selects the local path.
    */
  private def reliableDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(ConfKey).filter(_.nonEmpty).map { dir =>
      val sc = spark.sparkContext
      // setCheckpointDir creates a unique subdir per context; only
      // (re)point it when the configured root actually changed
      if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
        sc.setCheckpointDir(dir)
      dir
    }

  def cut(df: DataFrame): DataFrame =
    reliableDir(df.sparkSession) match {
      case Some(_) =>
        org.apache.spark.sql.GraftBridge.clampCheckpointStats(df.checkpoint())
      case None =>
        // clampCheckpointStats: without it, a loop that joins a cut
        // result with itself (pointer doubling) squares the inherited
        // size estimate every round — see the bridge scaladoc
        org.apache.spark.sql.GraftBridge.clampCheckpointStats(
          df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))
    }

  /** [[cut]] for an RDD superstep: the same policy (reliable
    * `checkpoint()` under [[ConfKey]], else a MEMORY_AND_DISK_SER
    * `localCheckpoint`), materialized by ONE job that also applies `f`
    * to each partition — so a round's cut and its per-partition
    * summary (a changed-row count) cost a single action. Returns `f`'s
    * results in partition order; `unpersist` frees the blocks. On
    * the reliable path Spark writes the files with a second job that
    * reads the persisted blocks.
    */
  def cutRdd[T, U: ClassTag](spark: SparkSession, rdd: RDD[T])(
      f: Iterator[T] => U): Array[U] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    if (reliableDir(spark).isDefined) rdd.checkpoint() else rdd.localCheckpoint()
    spark.sparkContext.runJob(rdd, f)
  }

  /** Eagerly drop the block storage behind a previous [[cut]] result.
    * Fires ONLY when the DataFrame IS a bare cut result (its whole
    * analyzed plan is the one `LogicalRDD` leaf a checkpoint leaves
    * behind) — walking into a composite plan and unpersisting every
    * LogicalRDD it references would free checkpoints the CALLER still
    * owns (a round-0 seed built over a caller-pinned edge list must
    * not drop the caller's blocks). On any other DataFrame this is a
    * no-op, and on the reliable-checkpoint path the files stay. Call
    * only once nothing derives from the old round lazily — i.e. after
    * the next round's cut has materialized.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }
}

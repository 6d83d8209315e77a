package graft.operators

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.engine.{Checkpoints, Fixpoint}

/** Shared min-relaxation rounds — BFS frontier expansion (unit steps)
  * and Bellman–Ford SSSP (weighted steps) — for the q140/q179 family
  * and their sf1 twins, as a Pregel superstep over RDDs (Pregel,
  * SIGMOD 2010; the semi-naive evaluation of Datalog):
  *
  *  - Adjacency: the caller's edge list is bucketed once into a
  *    `HashPartitioner` on `u` — one shuffle of per-partition primitive
  *    chunks — and kept as one CSR block per partition.
  *  - State: `node → (dd, fresh)` on the same partitioner, one
  *    primitive block per partition.
  *  - One round, one job: only the rows whose `dd` changed in the
  *    previous round (at first, every reached seed row) send `dd + 1`
  *    or `dd + w` along their out-edges; the messages are min-combined
  *    map-side and reduced into the state's partitioner; a narrow
  *    zip of state and messages (co-partitioned, no shuffle) updates
  *    the state; and the round's [[Checkpoints.cutRdd]] counts the
  *    changed rows on the same job. Relaxing from changed rows only is
  *    exact: min-relaxation is monotone, so a row that did not change
  *    would resend what its targets already hold.
  *  - [[Fixpoint]]'s rules: the loop stops after the first round that
  *    changes nothing (every later round is the identity, so the
  *    result equals the declared-iteration one), releases the previous
  *    state after each round, and tags each round's job (operator
  *    `relax`, round i; setup and result are round 0).
  *
  * The node set follows the union+groupBy reference: dist0's nodes
  * plus every node a relaxation reaches (a message to a node outside
  * the state adds it), so an asymmetric edge list whose targets are
  * not in dist0 loses nothing.
  */
object Relax {
  private val Operator = "relax"
  private val Schema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("dd", LongType, nullable = false)))

  /** @param edges    (u: long, v: long[, w: long]), non-null; read once.
    * @param dist0    (node: long, dd: long) seed distances, non-null
    *                 (Long.MaxValue = unreached; a node listed twice
    *                 keeps its least dd). Nodes absent from it join the
    *                 result once a relaxation reaches them.
    * @param iterations max relaxation rounds (the declared fixed
    *                 count — early exit only ever SKIPS identity
    *                 rounds).
    * @param weighted step = dd + w when true, dd + 1 when false.
    * @return (node, dd) after the rounds: a bare lineage cut the caller
    *         owns ([[PageRank.run]]'s contract); nothing else stays
    *         persisted.
    */
  def rounds(edges: DataFrame, dist0: DataFrame, iterations: Int,
      weighted: Boolean): DataFrame =
    fixpoint(edges, dist0, iterations, weighted).state

  /** [[rounds]] with [[Fixpoint]]'s round count and convergence flag. */
  private[graft] def fixpoint(edges: DataFrame, dist0: DataFrame,
      iterations: Int, weighted: Boolean): Fixpoint.Result = {
    if (iterations < 1) return Fixpoint.Result(dist0, 0, converged = false)
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val (adj, seed) = Fixpoint.tagged(sc, Operator, 0) {
      (adjacency(edges, weighted, part), frontier(dist0, part))
    }
    var state = seed
    var converged = false
    var i = 0
    try {
      while (!converged && i < iterations) {
        i += 1
        val msgs = state.zipPartitions(adj) { (s, a) => s.next().messages(a.next()) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val next = state.zipPartitions(msgs) { (s, m) => Iterator(s.next().relax(m)) }
        val changed = Fixpoint.tagged(sc, Operator, i) {
          Checkpoints.cutRdd(spark, next)(_.map(_.freshCount.toLong).sum).sum
        }
        converged = changed == 0L
        state.unpersist(blocking = false)
        state = next
      }
      val rows = state.mapPartitions(_.flatMap(_.rows))
      val n = Fixpoint.tagged(sc, Operator, 0) {
        Checkpoints.cutRdd(spark, rows)(_.size.toLong).sum
      }
      Fixpoint.Result(GraftBridge.rowsFrame(spark, rows, Schema, n), i, converged)
    } finally {
      state.unpersist(blocking = false)
      adj.unpersist(blocking = false)
    }
  }

  /** Routes a chunk to the reduce partition its key names. */
  private final class ById(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Edges bound for one partition; `w` is null for unit steps. */
  private final class Chunk(val u: Array[Long], val v: Array[Long],
      val w: Array[Long]) extends Serializable

  /** One partition's out-edges in CSR form: those of `keys(k)` sit at
    * `start(k) until start(k + 1)` of `dst` (and `w`, null for unit
    * steps); `keys` is sorted.
    */
  private final class Adjacency(keys: Array[Long], start: Array[Int],
      dst: Array[Long], w: Array[Long]) extends Serializable {
    def foreachOut(u: Long)(f: (Long, Long) => Unit): Unit = {
      val k = java.util.Arrays.binarySearch(keys, u)
      if (k >= 0) {
        var j = start(k)
        while (j < start(k + 1)) {
          f(dst(j), if (w == null) 1L else w(j))
          j += 1
        }
      }
    }
  }

  private object Adjacency {
    def apply(chunks: Seq[Chunk]): Adjacency = {
      val us = Array.concat(chunks.map(_.u): _*)
      val sorted = us.clone()
      java.util.Arrays.sort(sorted)
      val keys = sorted.take(1) ++
        (1 until sorted.length).collect { case i if sorted(i) != sorted(i - 1) => sorted(i) }
      val slot = us.map(java.util.Arrays.binarySearch(keys, _))
      val start = new Array[Int](keys.length + 1)
      slot.foreach(s => start(s + 1) += 1)
      for (k <- keys.indices) start(k + 1) += start(k)
      val fill = start.clone()
      val vs = Array.concat(chunks.map(_.v): _*)
      val ws = if (chunks.exists(_.w == null)) null else Array.concat(chunks.map(_.w): _*)
      val dst = new Array[Long](us.length)
      val w = if (ws == null) null else new Array[Long](us.length)
      for (e <- us.indices) {
        val at = fill(slot(e))
        dst(at) = vs(e)
        if (w != null) w(at) = ws(e)
        fill(slot(e)) += 1
      }
      new Adjacency(keys, start, dst, w)
    }
  }

  /** The edge list as one [[Adjacency]] per partition of `part`, built
    * with one shuffle and kept until [[fixpoint]] returns.
    */
  private def adjacency(edges: DataFrame, weighted: Boolean,
      part: Partitioner): RDD[Adjacency] = {
    val n = part.numPartitions
    val cols = (Seq("u", "v") ++ (if (weighted) Seq("w") else Nil))
      .map(c => col(c).cast(LongType))
    val width = cols.size
    edges.select(cols: _*).queryExecution.toRdd
      .mapPartitions { rows =>
        val b = Array.fill(width, n)(new mutable.ArrayBuilder.ofLong)
        rows.foreach { r =>
          require(!(0 until width).exists(r.isNullAt),
            "Relax: an edge has a null endpoint or weight")
          val p = part.getPartition(r.getLong(0))
          for (c <- 0 until width) b(c)(p) += r.getLong(c)
        }
        (0 until n).iterator.filter(b(0)(_).knownSize > 0).map(p =>
          p -> new Chunk(b(0)(p).result(), b(1)(p).result(),
            if (weighted) b(2)(p).result() else null))
      }
      .partitionBy(new ById(n))
      .mapPartitions(cs => Iterator(Adjacency(cs.map(_._2).toSeq)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** dist0 as round 0's state: its least dd per node, every reached
    * row fresh.
    */
  private def frontier(dist0: DataFrame, part: Partitioner): RDD[Block] =
    dist0.select(col("node").cast(LongType), col("dd").cast(LongType))
      .queryExecution.toRdd
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1), "Relax: dist0 has a null")
        (r.getLong(0), r.getLong(1))
      }
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .mapPartitions { it =>
        val (node, dd) = it.toArray.unzip
        Iterator(new Block(node, dd, dd.map(_ != Long.MaxValue)))
      }

  /** One partition of the state: `fresh(i)` when `dd(i)` changed in the
    * last round (or is a reached seed).
    */
  private final class Block(node: Array[Long], dd: Array[Long],
      fresh: Array[Boolean]) extends Serializable {

    def freshCount: Int = fresh.count(identity)

    /** The least step each target gets from this partition's fresh rows. */
    def messages(adj: Adjacency): Iterator[(Long, Long)] = {
      val best = new mutable.LongMap[Long]
      for (i <- node.indices if fresh(i) && dd(i) != Long.MaxValue) {
        val d = dd(i)
        adj.foreachOut(node(i)) { (v, w) =>
          if (d + w < best.getOrElse(v, Long.MaxValue)) best(v) = d + w
        }
      }
      best.iterator
    }

    /** This block after the round's min-combined `msgs` (one per node). */
    def relax(msgs: Iterator[(Long, Long)]): Block = {
      val best = mutable.LongMap.from(msgs)
      val dd2 = dd.clone()
      val fresh2 = new Array[Boolean](node.length)
      for (i <- node.indices) best.remove(node(i)) match {
        case Some(d) if d < dd(i) => dd2(i) = d; fresh2(i) = true
        case _ => ()
      }
      // relaxed onto nodes outside the state: they join it, as they do
      // in the reference's union+groupBy
      val (added, addedDd) = best.toArray.unzip
      new Block(node ++ added, dd2 ++ addedDd, fresh2 ++ added.map(_ => true))
    }

    def rows: Iterator[InternalRow] = {
      val w = new UnsafeRowWriter(2)
      node.indices.iterator.map { i =>
        w.reset()
        w.zeroOutNullBytes()
        w.write(0, node(i))
        w.write(1, dd(i))
        w.getRow.copy()
      }
    }
  }
}

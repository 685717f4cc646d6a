package graft.rel

import scala.reflect.ClassTag

import graft.Pins
import graft.ml.LongRecordSerializer
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructType}

/** The exact fixpoint loop of the graph operators, on RDDs rather than
  * DataFrames: the components star-contraction
  * (`Similarity.componentsWithRounds`) and the per-node message-passing
  * loops of coreness, label propagation and PageRank ([[propagate]]).
  *
  * A state is an RDD with ONE object per partition, hash-partitioned on
  * the node into `defaultParallelism` partitions. A round is ONE Spark
  * job: it builds and caches the next state and zips it (same partition
  * count: a narrow dependency) with the previous one, each task
  * returning whether its partition is unchanged. Every partition
  * unchanged ⇔ the state is unchanged, so the exit test is exact and
  * costs no job of its own. Each state is persisted in memory through a
  * [[graft.Pins]] with its lineage intact (a lost block recomputes from
  * the round's shuffle files, where a lost localCheckpoint block would
  * not); state r−2 is released once round r is done, and the rest when
  * the loop's `Pins.scoped` block ends, whether it returns or throws. */
private[graft] object Fixpoint {

  def partitioner(rdd: RDD[_]): Partitioner = new HashPartitioner(rdd.sparkContext.defaultParallelism)

  /** Groups (node, value) arcs by node through a raw-long shuffle into one
    * [[AdjacencyBlock]] per partition of `part`: each node's values
    * sorted, as a multiset or, with `distinct`, de-duplicated. */
  def grouped(arcs: RDD[(Long, Long)], part: Partitioner, distinct: Boolean): RDD[AdjacencyBlock] =
    new ShuffledRDD[Long, Long, Long](arcs, part).setSerializer(LongRecordSerializer(1, 1))
      .mapPartitions(it => Iterator.single(AdjacencyBlock(it, distinct)), preservesPartitioning = true)

  /** Runs `step` from `initial` until a round leaves every partition
    * `same` or `maxRounds` rounds have run, one job per round. Returns
    * (the last state, rounds run, whether the last round changed
    * nothing). `step` must keep the partition count; the states are
    * persisted through `pins`, which releases all but the last two. */
  def iterate[S: ClassTag](pins: Pins, initial: RDD[S], maxRounds: Int)(step: RDD[S] => RDD[S])(
      same: (S, S) => Boolean): (RDD[S], Int, Boolean) = {
    var state = pins.persist(initial)
    var previous: RDD[S] = null
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = pins.persist(step(state))
      // the round's one job: builds and caches next, and compares it
      converged = next.zipPartitions(state) { (a, b) => Iterator.single(same(a.next(), b.next())) }
        .collect().forall(identity)
      if (previous != null) pins.release(previous)
      previous = state
      state = next
      rounds += 1
    }
    (state, rounds, converged)
  }

  private val NodeDegreeValue = StructType.fromDDL("node LONG, degree LONG NOT NULL, value LONG")

  /** Synchronous per-node message passing over the directed arc list
    * `arcs` (two LONG columns, (u, v) by position), up to `maxRounds`
    * rounds, stopping at the first round that changes no value. Node x of
    * out-degree d starts at `init(x, d)`; each round it sends
    * `send(value, d)` along every out-arc, and its new value is
    * `update(received)`, the received values sorted ascending.
    *
    * The arcs are a MULTISET, as a join over them counts them: a
    * duplicated arc adds one to the degree and carries its message twice.
    * Every node must both send and receive (a symmetric arc list
    * guarantees it); a round fails otherwise, so a node can never drop
    * out of or enter the state silently. `init`, `send` and `update` must
    * be pure.
    *
    * The adjacency is built once, in compressed-sparse-row form, and
    * persisted beside the state (one `Array[Long]` of values per
    * partition, aligned with the adjacency's nodes). A round is one job
    * of two stages: the messages are sent from the zipped adjacency and
    * state and shuffled as raw longs, then grouped by node beside the
    * adjacency, updated and compared with the previous values. The first
    * round's job also builds the adjacency. Returns (the (node, degree,
    * value) frame, eagerly pinned by one more job and owned by `pins`;
    * rounds run; converged). The loop's own RDDs are released before it
    * returns. */
  def propagate(pins: Pins, arcs: DataFrame, maxRounds: Int)(init: (Long, Int) => Long,
      send: (Long, Int) => Long, update: Array[Long] => Long): (DataFrame, Int, Boolean) = {
    require(arcs.schema.map(_.dataType) == Seq(LongType, LongType),
      s"propagate: arcs must be two LONG columns, got ${arcs.schema.simpleString}")
    val pairs = arcs.queryExecution.toRdd.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1), "propagate: an arc has a null endpoint")
      (r.getLong(0), r.getLong(1))
    }
    val part = partitioner(pairs)
    Pins.scoped { loop =>
      val adjacency = loop.persist(grouped(pairs, part, distinct = false))
      val initial = adjacency.map(a => Array.tabulate(a.nodes.length)(i => init(a.nodes(i), a.degree(i))))
      val (state, rounds, converged) = iterate(loop, initial, maxRounds) { values =>
        val messages = adjacency.zipPartitions(values) { (as, vs) =>
          val (a, v) = (as.next(), vs.next())
          a.nodes.indices.iterator.flatMap { i =>
            val m = send(v(i), a.degree(i))
            (a.offsets(i) until a.offsets(i + 1)).iterator.map(j => (a.nbrs(j), m))
          }
        }
        adjacency.zipPartitions(grouped(messages, part, distinct = false)) { (as, ms) =>
          val (a, m) = (as.next(), ms.next())
          require(java.util.Arrays.equals(a.nodes, m.nodes),
            "propagate: a node sends but receives nothing, or receives but never sends")
          Iterator.single(Array.tabulate(a.nodes.length)(i => update(m.neighbors(i))))
        }
      }(java.util.Arrays.equals(_, _))
      val rows = adjacency.zipPartitions(state) { (as, vs) =>
        val (a, v) = (as.next(), vs.next())
        a.nodes.indices.iterator.map(i => Row(a.nodes(i), a.degree(i).toLong, v(i)))
      }
      (pins.pin(arcs.sparkSession.createDataFrame(rows, NodeDegreeValue)), rounds, converged)
    }
  }
}

/** One partition of a node-keyed state in compressed-sparse-row form:
  * `nodes` ascending, and node i's sorted values are
  * `nbrs(offsets(i) until offsets(i + 1))`. Three primitive arrays, so
  * caching a partition costs no per-object size estimation. */
private[graft] final class AdjacencyBlock(val nodes: Array[Long], val offsets: Array[Int],
    val nbrs: Array[Long]) extends Serializable {
  def degree(i: Int): Int = offsets(i + 1) - offsets(i)
  def neighbors(i: Int): Array[Long] = java.util.Arrays.copyOfRange(nbrs, offsets(i), offsets(i + 1))
  def nodesWithNeighbors: Iterator[(Long, Array[Long])] =
    nodes.indices.iterator.map(i => (nodes(i), neighbors(i)))
  def sameAs(o: AdjacencyBlock): Boolean = java.util.Arrays.equals(nodes, o.nodes) &&
    java.util.Arrays.equals(offsets, o.offsets) && java.util.Arrays.equals(nbrs, o.nbrs)
}

private[graft] object AdjacencyBlock {
  /** Groups (node, value) arcs by node: sorted nodes, each with its
    * sorted values (de-duplicated if `distinct`), whatever order the
    * arcs arrive in. */
  def apply(arcs: Iterator[Product2[Long, Long]], distinct: Boolean): AdjacencyBlock = {
    import scala.collection.mutable.{ArrayBuilder, LongMap}
    val byNode = LongMap.empty[ArrayBuilder.ofLong]
    arcs.foreach(a => byNode.getOrElseUpdate(a._1, new ArrayBuilder.ofLong) += a._2)
    val nodes = byNode.keysIterator.toArray
    java.util.Arrays.sort(nodes)
    val offsets = new Array[Int](nodes.length + 1)
    val nbrs = new ArrayBuilder.ofLong
    var i = 0
    while (i < nodes.length) {
      val vs = byNode(nodes(i)).result()
      java.util.Arrays.sort(vs)
      var j = 0
      while (j < vs.length) {
        if (!distinct || j == 0 || vs(j) != vs(j - 1)) { nbrs += vs(j); offsets(i + 1) += 1 }
        j += 1
      }
      offsets(i + 1) += offsets(i)
      i += 1
    }
    new AdjacencyBlock(nodes, offsets, nbrs.result())
  }
}

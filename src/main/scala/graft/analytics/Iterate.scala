package graft.analytics

import graft.Mat.Pinnable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one iteration loop behind every PageRank, HITS and label-
  * propagation face: a start vector, a round function and a stop rule.
  * The loop owns every persist and unpersist; the round function only
  * says what it builds ([[Iterate.Keep]]).
  *
  * Stop rules:
  *  - [[fixed]]: lazy rounds — one lineage, evaluated once by the
  *    caller's result; the loop adds no per-round persist or action.
  *  - [[until]]: a data-dependent stop needs one residual action per
  *    round, so each round is persisted BEFORE that action (the next
  *    round then reads blocks instead of re-walking the chain) and the
  *    previous round is dropped right after it: two vectors live, the
  *    power-iteration memory floor.
  *  - [[curve]]: every round is persisted and its delta joins the one
  *    final curve job. Each round feeds three readers (the next round,
  *    its own delta, the next delta's prev side); unpersisted, every
  *    reader re-runs the round's reduce in its own stage — on the label
  *    curve that made a 20.4 s fresh-JVM query out of an 8.0 s one.
  *
  * Blocks of the loop drop after the caller's tail ran, so the tail
  * must materialize what it returns ([[Graph.result]] pins). */
private[analytics] final class Iterate[S](start: Iterate.Keep => S,
                                          round: (S, Iterate.Keep) => S) {
  import Iterate._

  def fixed[A](rounds: Int)(tail: S => A): A =
    drive(rounds, keepVecs = false, twoLive = false)(
      (_, _, _) => false)((v, _) => tail(v))

  /** `tail` gets the last vector and the rounds run — the stop round
    * when `settled(next, prev)` held, else `maxRounds`. */
  def until[A](maxRounds: Int)(settled: (S, S) => Boolean)(
      tail: (S, Int) => A): A =
    drive(maxRounds, keepVecs = true, twoLive = true)(
      (_, next, prev) => settled(next, prev))(tail)

  /** `tail` gets the per-round deltas `delta(k, next, prev)` in round
    * order. */
  def curve[D, A](rounds: Int)(delta: (Long, S, S) => D)(
      tail: Seq[D] => A): A = {
    val deltas = ArrayBuffer.empty[D]
    drive(rounds, keepVecs = true, twoLive = false)(
      (k, next, prev) => { deltas += delta(k, next, prev); false })(
      (_, _) => tail(deltas.toSeq))
  }

  private def drive[A](maxRounds: Int, keepVecs: Boolean, twoLive: Boolean)(
      stop: (Long, S, S) => Boolean)(tail: (S, Int) => A): A = {
    require(maxRounds >= 1, "need at least one round")
    val keeps = ArrayBuffer(new Keep(keepVecs)) // one per round, the start first
    try {
      var vec = start(keeps.last)
      var k = 0
      var done = false
      while (k < maxRounds && !done) {
        k += 1
        val prev = vec
        keeps += new Keep(keepVecs)
        vec = round(prev, keeps.last)
        done = stop(k.toLong, vec, prev)
        if (twoLive) {
          keeps.last.temps.drop()
          keeps(keeps.length - 2).vecs.drop()
        }
      }
      tail(vec, k)
    } finally keeps.foreach { r => r.vecs.drop(); r.temps.drop() }
  }
}

private[analytics] object Iterate {

  private val Lvl: StorageLevel = StorageLevel.MEMORY_AND_DISK

  def apply[S](start: Keep => S)(round: (S, Keep) => S): Iterate[S] =
    new Iterate(start, round)

  /** Blocks persisted together and dropped together. */
  final class Pins {
    private val drops = ArrayBuffer.empty[() => Unit]
    def apply[T](r: RDD[T]): RDD[T] = {
      drops += (() => r.unpersist(false)); r.persist(Lvl)
    }
    def apply(d: DataFrame): DataFrame = {
      drops += (() => d.unpersist(false)); d.persist(Lvl)
    }
    def drop(): Unit = { drops.foreach(_()); drops.clear() }
  }

  /** One round's handle: `vec` marks a vector the stop rule or the next
    * round reads (persisted unless the stop rule is fixed), `temp` an
    * intermediate an action inside the round reads (always persisted). */
  final class Keep(keepVecs: Boolean) {
    private[Iterate] val vecs = new Pins
    private[Iterate] val temps = new Pins
    def vec[T](r: RDD[T]): RDD[T] = if (keepVecs) vecs(r) else r
    def temp[T](r: RDD[T]): RDD[T] = temps(r)
  }

  /** The prepared graph every face iterates over: edges decoded and
    * persisted, adjacency hash-partitioned with per-node dedup, node set
    * co-partitioned; the reverse adjacency and |V| only when a face asks.
    * Everything persisted here drops when [[prepareGraph]]'s body ends. */
  final class Graph private[Iterate] (edges: DataFrame, srcCol: String,
                                      dstCol: String, pins: Pins) {
    private val spark = edges.sparkSession
    import spark.implicits._
    val sc: org.apache.spark.SparkContext = spark.sparkContext
    // The edge derivation is materialized once as a cached DataFrame:
    // the columnar InMemoryRelation costs a build pass but stays
    // compressed off the GC's back (an RDD-of-tuples persist was
    // measured 2x slower end to end from allocation pressure alone).
    // persist, not localCheckpoint, so the blocks can be dropped once
    // the result materializes — leaked blocks measurably starve whatever
    // runs next in the session.
    val e: DataFrame = pins(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    val part = new HashPartitioner(graft.Par.graphParts(e, e.count()))
    val adj: RDD[(Long, Array[Long])] = pins(adjacency("src", "dst"))
    lazy val radj: RDD[(Long, Array[Long])] = pins(adjacency("dst", "src"))
    // The node set takes ONE shuffle straight into `part`: a DataFrame
    // union + distinct paid its own exchange and then a partitionBy
    // (~1.5 s of the HITS setup at sf0.1). A cogroup fusing adjacency and
    // node set into one shuffle was measured slower (0.48 s -> 1.4 s warm
    // on the 2.4M-edge copurchase graph): CoGroupedRDD buffers both sides
    // and the (dst, ()) registrations lose the map-side combine.
    val nodes: RDD[(Long, Unit)] = pins(
      e.as[(Long, Long)].rdd
        .flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
        .reduceByKey(part, (a, _) => a))
    lazy val n: Long = nodes.count()

    def pin[T](r: RDD[T]): RDD[T] = pins(r)

    /** Multi-edges dedup per node into a sorted primitive array — cheaper
      * than a corpus-wide DISTINCT exchange, and the emission order is
      * deterministic. */
    private def adjacency(from: String, to: String): RDD[(Long, Array[Long])] =
      e.select(col(from), col(to)).as[(Long, Long)].rdd
        .groupByKey(part).mapValues(_.toArray.distinct.sorted)

    /** The result tail: `rows` as a frame of non-null long `cols`. */
    def frame(rows: RDD[_ <: Product], cols: String*): DataFrame =
      spark.createDataFrame(rows.map(Row.fromTuple(_)),
        StructType(cols.map(StructField(_, LongType, nullable = false))))

    /** [[frame]] ordered by its first column and pinned. */
    def result(rows: RDD[_ <: Product], cols: String*): DataFrame =
      frame(rows, cols: _*).orderBy(col(cols.head)).pinned
  }

  /** The one graph prep: runs `body` over the prepared `edges` (rows with
    * a null endpoint dropped), then drops every block it persisted. */
  def prepareGraph[A](edges: DataFrame, srcCol: String, dstCol: String)(
      body: Graph => A): A = {
    val pins = new Pins
    try body(new Graph(edges, srcCol, dstCol, pins)) finally pins.drop()
  }
}

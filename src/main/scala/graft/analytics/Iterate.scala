package graft.analytics

import graft.Mat.Pinnable

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** The one iteration loop behind every PageRank, HITS and label-
  * propagation face and the near-dup components: a start vector, a round
  * function and a stop rule. The loop owns every persist and unpersist;
  * the round function only says what it builds ([[Iterate.Keep]]). On a
  * driver-local graph ([[Iterate.Local]]) the vectors are arrays and the
  * handle persists nothing.
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
  * must materialize what it returns ([[Graph.result]] pins, or builds a
  * driver-local frame). */
private[graft] final class Iterate[S](start: Iterate.Keep => S,
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

private[graft] object Iterate {

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

  // ------------------------------------------------------------ the gate

  /** Bytes one decoded edge takes on the driver: two longs. */
  private val EdgeBytes = 16L

  /** The local path's byte budget: `spark.sql.autoBroadcastJoinThreshold`,
    * the amount Spark already lets the driver collect for a broadcast
    * (10 MB by default, 655,360 edges); -1 turns the local path off. */
  private def budget(spark: SparkSession): Long = {
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    if (s.startsWith("-")) -1L else JavaUtils.byteStringAsBytes(s)
  }

  /** ONE job over `pairs` (two non-null long columns, persisted by the
    * caller): every partition is read to its end (so a cached frame is
    * fully built and the total is exact) and ships its rows only while it
    * holds no more than its 1/P share of the budget. Left(|E|) when the
    * edges exceed the budget, Right((src, dst)) when they fit; a fitting
    * graph whose rows were skewed past a share takes one more job over
    * just those partitions. The driver never holds more than the budget. */
  def collectSmall(pairs: DataFrame): Either[Long, (Array[Long], Array[Long])] = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val b = budget(spark)
    // Internal rows, read in place: a count-cheap pass over a graph above
    // the budget, with no per-row object.
    val rdd = pairs.queryExecution.toRdd
    val nParts = rdd.getNumPartitions
    val cap = if (b < 0L) -1L else b / EdgeBytes
    val share = if (b < 0L) -1L else cap / math.max(nParts, 1)
    // (rows, the rows as (src, dst) longs interleaved, or null past `limit`)
    def take(limit: Long)(it: Iterator[InternalRow]): (Long, Array[Long]) = {
      var buf = new Array[Long](64)
      var m = 0
      var n = 0L
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new NullPointerException("a graph edge has a null endpoint")
        if (n < limit) {
          if (m + 2 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          buf(m) = r.getLong(0); buf(m + 1) = r.getLong(1); m += 2
        }
        n += 1
      }
      (n, if (n <= limit) java.util.Arrays.copyOf(buf, m) else null)
    }
    val parts = new Array[Array[Long]](nParts)
    var total = 0L
    sc.runJob(rdd, take(share) _, (i: Int, r: (Long, Array[Long])) => {
      total += r._1; parts(i) = r._2
    })
    if (cap < 0L || total > cap) Left(total)
    else {
      val skewed = parts.indices.filter(parts(_) == null)
      if (skewed.nonEmpty)
        sc.runJob(rdd, (_: TaskContext, it: Iterator[InternalRow]) => take(cap)(it),
          skewed, (j: Int, r: (Long, Array[Long])) => parts(skewed(j)) = r._2)
      val all = parts.flatten
      Right((Array.tabulate(all.length / 2)(i => all(2 * i)),
        Array.tabulate(all.length / 2)(i => all(2 * i + 1))))
    }
  }

  /** The graph prep behind every face: decodes `edges` (rows with a null
    * endpoint dropped), then runs `body` over a [[Local]] graph when the
    * decoded edges fit the broadcast budget and over a [[Dist]] one when
    * they do not, and drops every block it persisted when `body` ends. */
  def prepareGraph[A](edges: DataFrame, srcCol: String, dstCol: String)(
      body: Graph => A): A = {
    val pins = new Pins
    try {
      // The edge derivation is materialized once as a cached DataFrame:
      // the columnar InMemoryRelation costs a build pass but stays
      // compressed off the GC's back (an RDD-of-tuples persist was
      // measured 2x slower end to end from allocation pressure alone).
      // persist, not localCheckpoint, so the blocks can be dropped once
      // the result materializes — leaked blocks measurably starve
      // whatever runs next in the session. The gate's job builds it.
      val e = pins(edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull))
      body(collectSmall(e) match {
        case Right((s, d)) => Local(e.sparkSession, s, d)
        case Left(m) => new Dist(e, m, pins)
      })
    } finally pins.drop()
  }

  /** One LPA vote into a per-node label histogram (both paths). */
  def tally(m: LongMap[Long], lab: Long, c: Long): LongMap[Long] = {
    m.update(lab, m.getOrElse(lab, 0L) + c); m
  }

  /** A prepared graph the faces iterate over, written once against its
    * vector algebra. `Vec[T]` holds one T per node (every node unless a
    * primitive says sparse); `Rows[R]` holds per-round curve rows.
    *
    * Driver memory: a [[Local]] graph holds at most the broadcast budget
    * of edges (16 bytes each) while it is built, then its CSR form (about
    * 16 bytes an edge and 12 a node, both directions) and a few vectors
    * of |V| ≤ 2|E| longs — a small multiple of the budget. A [[Dist]]
    * graph keeps nothing per node on the driver. */
  sealed abstract class Graph {
    type Vec[T]
    type Rows[R]
    val spark: SparkSession

    /** |V| */
    def n: Long
    /** Every node's `f(id)`. */
    def init[T: ClassTag](f: Long => T): Vec[T]
    def map[T: ClassTag, U: ClassTag](v: Vec[T])(f: T => U): Vec[U]
    def zip[T: ClassTag, U: ClassTag](a: Vec[T], b: Vec[U]): Vec[(T, U)]
    def fold[T: ClassTag, R: ClassTag](v: Vec[T])(zero: R)(add: (R, T) => R,
                                                           merge: (R, R) => R): R
    /** The sparse push step: every node u with a non-`skip` value and
      * out-neighbours (in-neighbours when `reverse`) sends
      * `emit(v(u), degree)` to each of them; the sums per receiver. A
      * node that received nothing is absent (Dist) or `zero` (Local). */
    def spread[T: ClassTag, U: ClassTag](v: Vec[T], reverse: Boolean)(
        skip: T => Boolean, emit: (T, Int) => U)(zero: U, plus: (U, U) => U): Vec[U]
    /** Every node of `base` with `f(base, sum)`, `zero` where `sums` is
      * absent. */
    def merge[T: ClassTag, U: ClassTag, W: ClassTag](base: Vec[T], sums: Vec[U],
        zero: U)(f: (T, U) => W): Vec[W]
    /** Every node with `f(sum)`, `zero` where `sums` is absent. */
    def fill[U: ClassTag, W: ClassTag](sums: Vec[U], zero: U)(f: U => W): Vec[W]
    /** One synchronous vote: nodes with in-edges take `elect` of their
      * in-neighbours' label histogram (multi-edges count once), the rest
      * keep their label. */
    def vote(labels: Vec[Long])(elect: LongMap[Long] => Long): Vec[Long]
    /** Membership of `seeds`' first column (nulls dropped) in the node set,
      * and how many nodes are seeds. */
    def seeds(seeds: DataFrame): (Vec[Boolean], Long)

    def vec[T](k: Keep)(v: Vec[T]): Vec[T]
    def temp[T](k: Keep)(v: Vec[T]): Vec[T]
    def pin[T](v: Vec[T]): Vec[T]

    /** Round `k`'s curve row: `v`'s values summed with `plus` (no row for
      * an empty graph). */
    def rows[R: ClassTag](k: Long, v: Vec[R])(plus: (R, R) => R): Rows[R]
    def sumRows[R: ClassTag](rs: Seq[Rows[R]])(plus: (R, R) => R): Rows[R]
    /** Round `k`'s distinct values of `v`, counted by [[countDistinct]]. */
    def distinctRows(k: Long, v: Vec[Long]): Rows[Long]
    def countDistinct(rs: Seq[Rows[Long]]): Rows[Long]
    def joinRows[A: ClassTag, B: ClassTag](a: Rows[A], b: Rows[B]): Rows[(A, B)]
    /** Curve rows as a frame of non-null long `cols`, ordered by round. */
    def table[R](rs: Rows[R], cols: String*)(row: (Long, R) => Product): DataFrame

    /** `v` as a frame of non-null long `cols`, one `row(node, value)` per
      * node, materialized (pinned, or driver-local). */
    def frame[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame
    /** [[frame]] ordered by node. */
    def result[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame

    protected def schema(cols: Seq[String]): StructType =
      StructType(cols.map(StructField(_, LongType, nullable = false)))
  }

  /** The distributed graph: edges persisted, adjacency hash-partitioned
    * with per-node dedup, node set co-partitioned; the reverse adjacency
    * and |V| only when a face asks. Every round is Spark jobs. */
  final class Dist private[Iterate] (e: DataFrame, edgeCount: Long, pins: Pins)
      extends Graph {
    type Vec[T] = RDD[(Long, T)]
    type Rows[R] = RDD[(Long, R)]
    val spark: SparkSession = e.sparkSession
    import spark.implicits._
    private val sc = spark.sparkContext
    val part = new HashPartitioner(graft.Par.graphParts(e, edgeCount))
    private val adj: RDD[(Long, Array[Long])] = pins(adjacency("src", "dst"))
    private lazy val radj: RDD[(Long, Array[Long])] = pins(adjacency("dst", "src"))
    // The node set takes ONE shuffle straight into `part`: a DataFrame
    // union + distinct paid its own exchange and then a partitionBy
    // (~1.5 s of the HITS setup at sf0.1). A cogroup fusing adjacency and
    // node set into one shuffle was measured slower (0.48 s -> 1.4 s warm
    // on the 2.4M-edge copurchase graph): CoGroupedRDD buffers both sides
    // and the (dst, ()) registrations lose the map-side combine.
    private val nodes: RDD[(Long, Unit)] = pins(
      e.as[(Long, Long)].rdd
        .flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
        .reduceByKey(part, (a, _) => a))
    lazy val n: Long = nodes.count()

    /** Multi-edges dedup per node into a sorted primitive array — cheaper
      * than a corpus-wide DISTINCT exchange, and the emission order is
      * deterministic. */
    private def adjacency(from: String, to: String): RDD[(Long, Array[Long])] =
      e.select(col(from), col(to)).as[(Long, Long)].rdd
        .groupByKey(part).mapValues(_.toArray.distinct.sorted)

    def init[T: ClassTag](f: Long => T): Vec[T] =
      nodes.mapPartitions(_.map { case (v, _) => (v, f(v)) }, preservesPartitioning = true)
    def map[T: ClassTag, U: ClassTag](v: Vec[T])(f: T => U): Vec[U] = v.mapValues(f)
    def zip[T: ClassTag, U: ClassTag](a: Vec[T], b: Vec[U]): Vec[(T, U)] = a.join(b)
    def fold[T: ClassTag, R: ClassTag](v: Vec[T])(zero: R)(add: (R, T) => R,
                                                           merge: (R, R) => R): R =
      v.map(_._2).aggregate(zero)(add, merge)
    // The adjacency⋈vector join is narrow (both sides share `part`); the
    // reduceByKey of what the sources send is the one shuffle per step.
    def spread[T: ClassTag, U: ClassTag](v: Vec[T], reverse: Boolean)(
        skip: T => Boolean, emit: (T, Int) => U)(zero: U, plus: (U, U) => U): Vec[U] =
      (if (reverse) radj else adj).join(v)
        .flatMap { case (_, (outs, x)) =>
          if (skip(x)) Iterator.empty
          else {
            val c = emit(x, outs.length)
            outs.iterator.map(d => (d, c))
          }
        }
        .reduceByKey(part, plus)
    def merge[T: ClassTag, U: ClassTag, W: ClassTag](base: Vec[T], sums: Vec[U],
        zero: U)(f: (T, U) => W): Vec[W] =
      base.leftOuterJoin(sums).mapValues { case (b, o) => f(b, o.getOrElse(zero)) }
    def fill[U: ClassTag, W: ClassTag](sums: Vec[U], zero: U)(f: U => W): Vec[W] =
      merge(nodes, sums, zero)((_, s) => f(s))
    // ONE shuffle: votes combine map-side into per-node label→count maps,
    // the election runs in the finalizer; the carry-forward left join is
    // narrow (both sides share `part`).
    def vote(labels: Vec[Long])(elect: LongMap[Long] => Long): Vec[Long] = {
      val elected = adj.join(labels)
        .flatMap { case (_, (dsts, lab)) => dsts.iterator.map(d => (d, lab)) }
        .aggregateByKey(LongMap.empty[Long], part)(
          (m, lab) => tally(m, lab, 1L),
          (m1, m2) => { m2.foreach { case (lab, c) => tally(m1, lab, c) }; m1 })
        .mapValues(elect)
      labels.leftOuterJoin(elected).mapValues { case (old, o) => o.getOrElse(old) }
    }
    def seeds(seeds: DataFrame): (Vec[Boolean], Long) = {
      val seedRdd = seeds.filter(col(seeds.columns.head).isNotNull)
        .distinct().as[Long].rdd.map(v => (v, ())).partitionBy(part)
      val inGraph = nodes.join(seedRdd).mapValues(_ => ())
      val s = inGraph.count()
      (nodes.leftOuterJoin(inGraph).mapValues(_._2.isDefined), s)
    }

    def vec[T](k: Keep)(v: Vec[T]): Vec[T] = k.vec(v)
    def temp[T](k: Keep)(v: Vec[T]): Vec[T] = k.temp(v)
    def pin[T](v: Vec[T]): Vec[T] = pins(v)

    def rows[R: ClassTag](k: Long, v: Vec[R])(plus: (R, R) => R): Rows[R] =
      v.map { case (_, r) => (k, r) }
    def sumRows[R: ClassTag](rs: Seq[Rows[R]])(plus: (R, R) => R): Rows[R] =
      sc.union(rs).reduceByKey(plus)
    def distinctRows(k: Long, v: Vec[Long]): Rows[Long] =
      v.map { case (_, lab) => (k, lab) }
    def countDistinct(rs: Seq[Rows[Long]]): Rows[Long] =
      sc.union(rs).distinct().map { case (k, _) => (k, 1L) }.reduceByKey(_ + _)
    def joinRows[A: ClassTag, B: ClassTag](a: Rows[A], b: Rows[B]): Rows[(A, B)] =
      a.join(b)
    def table[R](rs: Rows[R], cols: String*)(row: (Long, R) => Product): DataFrame =
      result(rs, cols: _*)(row)

    def frame[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame =
      unpinned(v, cols)(row).pinned
    def result[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame =
      unpinned(v, cols)(row).orderBy(col(cols.head)).pinned
    private def unpinned[T](v: Vec[T], cols: Seq[String])(
        row: (Long, T) => Product): DataFrame =
      spark.createDataFrame(v.map { case (k, x) => Row.fromTuple(row(k, x)) }, schema(cols))
  }

  /** The driver-local graph: sorted node ids (a node's index is its rank)
    * and CSR adjacency deduplicated per node, exactly as [[Dist]]'s. Every
    * round is a loop over arrays; results are local frames, so no Spark job
    * runs after the edge collect. */
  final class Local private (val spark: SparkSession, val ids: Array[Long],
                             outOff: Array[Int], outs: Array[Int],
                             inOff: Array[Int], ins: Array[Int]) extends Graph {
    type Vec[T] = Array[T]
    type Rows[R] = Seq[(Long, R)]
    def n: Long = ids.length.toLong
    private def size = ids.length

    def init[T: ClassTag](f: Long => T): Vec[T] = ids.map(f)
    def map[T: ClassTag, U: ClassTag](v: Vec[T])(f: T => U): Vec[U] = v.map(f)
    def zip[T: ClassTag, U: ClassTag](a: Vec[T], b: Vec[U]): Vec[(T, U)] = a.zip(b)
    def fold[T: ClassTag, R: ClassTag](v: Vec[T])(zero: R)(add: (R, T) => R,
                                                           merge: (R, R) => R): R =
      v.foldLeft(zero)(add)
    def spread[T: ClassTag, U: ClassTag](v: Vec[T], reverse: Boolean)(
        skip: T => Boolean, emit: (T, Int) => U)(zero: U, plus: (U, U) => U): Vec[U] = {
      val (off, to) = if (reverse) (inOff, ins) else (outOff, outs)
      val sums = Array.fill(size)(zero)
      var u = 0
      while (u < size) {
        val deg = off(u + 1) - off(u)
        if (deg > 0 && !skip(v(u))) {
          val c = emit(v(u), deg)
          var j = off(u)
          while (j < off(u + 1)) { sums(to(j)) = plus(sums(to(j)), c); j += 1 }
        }
        u += 1
      }
      sums
    }
    def merge[T: ClassTag, U: ClassTag, W: ClassTag](base: Vec[T], sums: Vec[U],
        zero: U)(f: (T, U) => W): Vec[W] =
      Array.tabulate(size)(i => f(base(i), sums(i)))
    def fill[U: ClassTag, W: ClassTag](sums: Vec[U], zero: U)(f: U => W): Vec[W] =
      sums.map(f)
    def vote(labels: Vec[Long])(elect: LongMap[Long] => Long): Vec[Long] = {
      val m = LongMap.empty[Long]
      Array.tabulate(size) { d =>
        if (inOff(d + 1) == inOff(d)) labels(d)
        else {
          m.clear()
          var j = inOff(d)
          while (j < inOff(d + 1)) { tally(m, labels(ins(j)), 1L); j += 1 }
          elect(m)
        }
      }
    }
    def seeds(seeds: DataFrame): (Vec[Boolean], Long) = {
      val in = members(seeds.filter(col(seeds.columns.head).isNotNull), ids)
      (Array.tabulate(size)(in.get), in.cardinality().toLong)
    }

    def vec[T](k: Keep)(v: Vec[T]): Vec[T] = v
    def temp[T](k: Keep)(v: Vec[T]): Vec[T] = v
    def pin[T](v: Vec[T]): Vec[T] = v

    def rows[R: ClassTag](k: Long, v: Vec[R])(plus: (R, R) => R): Rows[R] =
      v.reduceOption(plus).map((k, _)).toSeq
    def sumRows[R: ClassTag](rs: Seq[Rows[R]])(plus: (R, R) => R): Rows[R] =
      rs.flatten.groupBy(_._1).toSeq.map { case (k, xs) => (k, xs.map(_._2).reduce(plus)) }
    def distinctRows(k: Long, v: Vec[Long]): Rows[Long] =
      if (v.isEmpty) Seq.empty else Seq((k, v.distinct.length.toLong))
    def countDistinct(rs: Seq[Rows[Long]]): Rows[Long] = rs.flatten
    def joinRows[A: ClassTag, B: ClassTag](a: Rows[A], b: Rows[B]): Rows[(A, B)] =
      for ((k, x) <- a; (j, y) <- b if k == j) yield (k, (x, y))
    def table[R](rs: Rows[R], cols: String*)(row: (Long, R) => Product): DataFrame =
      local(rs.sortBy(_._1).map { case (k, r) => row(k, r) }, cols)

    def frame[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame =
      result(v, cols: _*)(row)
    def result[T](v: Vec[T], cols: String*)(row: (Long, T) => Product): DataFrame =
      local(ids.indices.map(i => row(ids(i), v(i))), cols)
    private def local(rows: Seq[Product], cols: Seq[String]): DataFrame =
      spark.createDataFrame(rows.map(Row.fromTuple).asJava, schema(cols))
  }

  object Local {
    /** Sorted distinct endpoints and both CSR directions of (src, dst). */
    def apply(spark: SparkSession, src: Array[Long], dst: Array[Long]): Local = {
      val ids = (src ++ dst).sorted.distinct
      def idx(v: Long) = java.util.Arrays.binarySearch(ids, v)
      val s = src.map(idx)
      val d = dst.map(idx)
      val (outOff, outs) = csr(ids.length, s, d)
      val (inOff, ins) = csr(ids.length, d, s)
      new Local(spark, ids, outOff, outs, inOff, ins)
    }

    /** CSR of (from → to) over `n` nodes, each row sorted and deduped. */
    def csr(n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
      val keys = from.indices.map(i => (from(i).toLong << 32) | to(i).toLong)
        .toArray.sorted.distinct
      val off = new Array[Int](n + 1)
      keys.foreach(k => off((k >>> 32).toInt + 1) += 1)
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      (off, keys.map(k => (k & 0xffffffffL).toInt))
    }
  }

  /** Which of the sorted `nodes` appear in `df`'s first (long) column: ONE
    * job, each partition sending back a bitset over `nodes`, so the driver
    * holds |V| bits however large `df` is. */
  def members(df: DataFrame, nodes: Array[Long]): java.util.BitSet = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(nodes)
    try df.select(col(df.columns.head).cast("long")).as[Long].rdd
      .mapPartitions { it =>
        val bits = new java.util.BitSet(bc.value.length)
        it.foreach { v =>
          val i = java.util.Arrays.binarySearch(bc.value, v)
          if (i >= 0) bits.set(i)
        }
        Iterator(bits)
      }
      .fold(new java.util.BitSet(nodes.length)) { (a, b) => a.or(b); a }
    finally bc.destroy()
  }
}

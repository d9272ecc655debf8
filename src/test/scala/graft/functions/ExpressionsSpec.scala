package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftExtensions, VectorFunctions, ArrayFunctions}

/** The native expressions: value parity with the declarative forms,
  * codegen + interpreted agreement, and SQL registration. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("dotNative equals the HOF fold bit-for-bit") {
    val df = Seq((Array(1.5, -2.0, 3.25), Array(0.5, 4.0, -1.0))).toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (s, x) => s + x))
      .head().getDouble(0)
    val native = df.select(VectorFunctions.dotNative($"a", $"b")).head().getDouble(0)
    assert(native == hof)
    assert(native == 1.5 * 0.5 + (-2.0) * 4.0 + 3.25 * (-1.0))
  }

  test("dot: null array -> null; length mismatch -> shorter prefix") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]),
      (Some(Array(1.0, 2.0, 99.0)), Some(Array(3.0, 4.0))))
      .toDF("a", "b")
    val out = df.select(VectorFunctions.dotNative($"a", $"b")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 11.0)
  }

  test("sortedIntersectSize equals size(array_intersect) on sorted sets") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq[String]()),
      (Seq[String](), Seq[String]()),
      (Seq("a", "b"), Seq("a", "b"))).toDF("a", "b")
    val got = df.select(ArrayFunctions.sortedIntersectSize($"a", $"b")).as[Long].collect()
    val ref = df.select(size(array_intersect($"a", $"b")).cast("long")).as[Long].collect()
    assert(got.toSeq == ref.toSeq && got.toSeq == Seq(2L, 0L, 0L, 2L))
  }

  /** Runs `body` with whole-stage codegen and generated projections off,
    * so every expression evaluates through `nullSafeEval`. */
  private def interpreted[T](body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.wholeStage", v)
        case None => spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("expressions survive interpreted mode (codegen off) with same values") {
    interpreted {
      val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      assert(df.select(VectorFunctions.dotNative($"a", $"b")).head().getDouble(0) == 32.0)
      val s = Seq((Seq("x", "y"), Seq("y", "z"))).toDF("a", "b")
      assert(s.select(ArrayFunctions.sortedIntersectSize($"a", $"b")).head().getLong(0) == 1L)
      val mh = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
        .select(ArrayFunctions.minHashBandBuckets($"toks", 8, 4)).as[Seq[Long]].head()
      assert(mh.length == 4)
      val wm = Seq(Tuple1(Seq(9L, 3L, 7L, 5L))).toDF("hs")
        .select(ArrayFunctions.winnowMins($"hs", 2)).as[Seq[Long]].head()
      assert(wm.toSet == Set(3L, 5L))
    }

    // Every scalar native expression over an RDD-backed input: a local
    // Seq(...).toDF() would be folded into a LocalRelation by the
    // optimizer and never reach generated code.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("d1", ArrayType(DoubleType)).add("d2", ArrayType(DoubleType))
      .add("s1", ArrayType(StringType)).add("s2", ArrayType(StringType))
      .add("h1", ArrayType(LongType)).add("h2", ArrayType(LongType))
      .add("m", LongType).add("t", StringType).add("host", StringType)
    val rows = Seq(
      Row(Seq(1.5, -2.0, 3.25), Seq(0.5, 4.0, -1.0), Seq("a", "b", "c"), Seq("b", "c", "d"),
        Seq(9L, 3L, 7L, 5L), Seq(1L, 3L, 8L), 2L,
        "Cafe\u0301 x x x\n\nab ab\tab 4111 1111 1111 1111", "www.example.co.uk"),
      // null arrays and strings
      Row(null, Seq(1.0), null, Seq("a"), null, Seq(2L), null, null, null),
      // null elements
      Row(Seq(1.0, null, 2.0), Seq(3.0, 4.0, null), Seq("a", null, "c"), Seq(null, "c"),
        Seq(1L, null, 2L), Seq(4L, null, 2L), 0L, "", "com"),
      // empty arrays
      Row(Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), 5L, "  ", ""),
      // ragged; the bound of 3 is out of reach after two steps, so the walk
      // exits at 0 although "x" is shared; no equal position (-1); d1 sits
      // at the same distance from centroids 0 and 1
      Row(Seq(0.0, 1.0), Seq(3.0, 4.0, 99.0), Seq("a", "b", "c", "x"), Seq("x", "y", "z"),
        Seq(5L, 6L, 7L), Seq(1L, 2L), 3L, "abc abc abc abc abc", "a.b.github.io"))
    val input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(-1.0, 1.0))
    val centers = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0), Seq(0.0, 3.0))
    val cols = Seq(
      VectorFunctions.dotNative($"d1", $"d2"),
      VectorFunctions.lshTableBuckets($"d1", planes, 2),
      VectorFunctions.nearestCentroids($"d1", centers, 2),
      ArrayFunctions.sortedIntersectSize($"s1", $"s2"),
      ArrayFunctions.sortedIntersectSizeBounded($"s1", $"s2", $"m"),
      ArrayFunctions.simHash64($"h1"),
      ArrayFunctions.firstEqualIndex($"h1", $"h2"),
      ArrayFunctions.splitWhitespace($"t"),
      ArrayFunctions.minHashBandBuckets($"s1", 8, 4),
      ArrayFunctions.winnowMins($"h1", 2),
      ArrayFunctions.nfcNormalize($"t"),
      ArrayFunctions.registeredDomain($"host"),
      ArrayFunctions.luhnValid($"t"),
      ArrayFunctions.charEntropy($"t"),
      ArrayFunctions.gopherRepetitionStats($"t", lower($"t")))
    def run(): (String, Seq[Row]) = {
      val q = input.select(cols: _*)
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    val (genPlan, gen) = run()
    val (evalPlan, eval) = interpreted(run())
    assert(genPlan.contains("*(1) Project"), genPlan)
    assert(!evalPlan.contains("*("), evalPlan)
    assert(gen == eval, gen.zip(eval).mkString("\n"))

    assert(gen(1).toSeq.forall(_ == null))
    assert(gen(0).getDouble(0) == 1.5 * 0.5 + (-2.0) * 4.0 + 3.25 * (-1.0))
    assert(gen(2).getDouble(0) == 3.0 && gen(4).getDouble(0) == 4.0)
    assert(gen(2).getLong(3) == 1L && gen(3).getLong(3) == 0L)
    assert(gen(4).getLong(3) == 1L && gen(4).getLong(4) == 0L) // early exit
    assert(gen(0).getLong(4) == 2L && gen(2).getLong(4) == 1L)
    assert(gen(0).getInt(6) == 1 && gen(2).getInt(6) == 2 && gen(4).getInt(6) == -1)
    assert(gen(3).getInt(6) == -1 && gen(3).getLong(5) == 0L)
    assert(gen(4).getSeq[Int](2) == Seq(0, 1)) // tie -> lower centroid id first
    assert(gen(4).getSeq[Long](1) == Seq(2L, 3L)) // bits [x>0, y>0], [x+y>0, y-x>0]
    assert(gen(0).getSeq[Long](9).toSet == Set(3L, 5L))
  }

  test("lshTableBuckets requires 1 <= bitsPerTable <= 64") {
    val planes = Seq.fill(65)(Seq(1.0))
    for (bits <- Seq(65, 0)) {
      val err = intercept[IllegalArgumentException] {
        VectorFunctions.lshTableBuckets($"v", planes, bits)
      }
      assert(err.getMessage.contains("bitsPerTable"), err.getMessage)
    }
    // at 64 bits, the last plane sets bit 63 (the sign bit), not bit 0
    val planes64 = Seq.fill(63)(Seq(-1.0)) :+ Seq(1.0)
    val b = spark.range(1).select(array(lit(1.0)).as("v"))
      .select(VectorFunctions.lshTableBuckets($"v", planes64, 64)).head().getSeq[Long](0)
    assert(b == Seq(Long.MinValue))
  }

  test("DotProductRewrite turns the HOF idiom into the native expression") {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(org.apache.spark.sql.graft.DotProductRewrite)
    try {
      // non-literal input (range-derived) so constant folding can't
      // collapse the expression before the rewrite is observable
      val base = spark.range(3).select(
        transform(sequence(lit(0L), $"id" + 1), i => (i + 1).cast("double")).as("a"),
        transform(sequence(lit(0L), $"id" + 1), i => (i + 2).cast("double")).as("b"))
      val df = base.select(aggregate(zip_with($"a", $"b", (x, y) => x * y),
        lit(0.0), (s, x) => s + x).as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        df.queryExecution.optimizedPlan.toString)
      // id=0: a=[1,2], b=[2,3] -> 1*2 + 2*3 = 8
      assert(df.orderBy("d").head().getDouble(0) == 8.0)
      // non-matching shape (seed 1.0) is left untouched
      val other = base.select(aggregate(zip_with($"a", $"b", (x, y) => x * y),
        lit(1.0), (s, x) => s + x).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot"))
      assert(other.orderBy("d").head().getDouble(0) == 9.0)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("minHashBandBuckets equals the declarative md5-prefix chain") {
    // Expected buckets built ONLY from public column functions: the HOF
    // signature fold (graft.dedup.Dedup.minHashSignature) then the md5
    // band fold (minHashBandBucketsDeclarative) — the exact digest inputs
    // MinHashBandBuckets.compute rebuilds byte-for-byte.
    val numHashes = 8
    val bands = 4
    val df = Seq(
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("alpha"),
      Seq[String]()).toDF("toks")
    val sigDf = df.withColumn("sig",
      graft.dedup.Dedup.minHashSignature($"toks", numHashes))
    val expected = sigDf.select(
        graft.dedup.Dedup.minHashBandBucketsDeclarative($"sig", numHashes, bands).as("b"))
      .as[Seq[Long]].collect()
    val got = df.select(ArrayFunctions.minHashBandBuckets($"toks", numHashes, bands).as("b"))
      .as[Seq[Long]].collect()
    assert(got.toSeq == expected.toSeq)
    // and a distinct-permutation invariance sanity: same SET, same buckets
    val p = Seq(Seq("delta", "gamma", "beta", "alpha").sorted).toDF("toks")
      .select(ArrayFunctions.minHashBandBuckets($"toks", numHashes, bands).as("b"))
      .as[Seq[Long]].head()
    assert(p == got(0).toSeq)
  }

  test("GraftExtensions registers SQL functions") {
    // getOrCreate reuses the shared test session (builder-time extensions
    // don't apply), so use the running-session registration path.
    GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "graft_sorted_intersect_size(array('a','b'), array('b','c')) AS n")
      .head()
    assert(out.getDouble(0) == 11.0 && out.getLong(1) == 1L)
    val out2 = spark.sql(
      "SELECT graft_sorted_intersect_size_bounded(array('a','b'), array('b','c'), 1L) AS nb, " +
      "graft_first_equal_index(array(1L, 7L), array(2L, 7L)) AS fe, " +
      "graft_split_ws('  a  b\tc ') AS toks, " +
      "graft_simhash64(array(0L)) AS sh")
      .head()
    assert(out2.getLong(0) == 1L)
    assert(out2.getInt(1) == 1)
    assert(out2.getSeq[String](2) == Seq("a", "b", "c"))
    assert(out2.getLong(3) == 0L) // hash 0: every bit counter at -1 -> all zero bits
    val mh = spark.sql(
      "SELECT graft_minhash_band_buckets(array('a','b'), 4, 2) AS b").head()
    assert(mh.getSeq[Long](0).length == 2)
    val wm = spark.sql(
      "SELECT graft_winnow_mins(array(9L, 3L, 7L, 5L), 2) AS w").head()
    assert(wm.getSeq[Long](0).toSet == Set(3L, 5L))
    // Integer-literal params accept any integral numeric type (4L used to
    // throw an opaque ClassCastException), and a non-literal errors clearly.
    val wmL = spark.sql(
      "SELECT graft_winnow_mins(array(9L, 3L, 7L, 5L), 2L) AS w").head()
    assert(wmL.getSeq[Long](0).toSet == Set(3L, 5L))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_winnow_mins(array(1L), cast(rand()*2+1 AS INT))").head()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("luhnValid: checksum arithmetic, length gate, separators, null (r10)") {
    // Reference Luhn in plain Scala, checked against the native expression.
    def ref(s: String): Boolean = {
      val ds = s.filter(_.isDigit).map(_ - '0').reverse
      ds.length >= 13 && ds.length <= 19 &&
        ds.zipWithIndex.map { case (d, i) =>
          if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
        }.sum % 10 == 0
    }
    val cases = Seq(
      "4111 1111 1111 1111",   // valid Visa test number, space-separated
      "4111-1111-1111-1112",   // checksum fails by one
      "5500000000000004",      // valid, no separators
      "1234567890123",         // 13 digits, checksum fails
      "0000000000000",         // 13 zeros: sum 0 -> valid
      "123456789012",          // 12 digits: under the length floor
      "00000000000000000000")  // 20 zeros: over the length ceiling
    val got = cases.toDF("c")
      .select(ArrayFunctions.luhnValid($"c")).as[Boolean].collect().toSeq
    assert(got == cases.map(ref),
      cases.zip(got).mkString(", "))
    assert(got == Seq(true, false, true, false, true, false, false))
    // null in -> null out
    val n = Seq[Option[String]](None).toDF("c")
      .select(ArrayFunctions.luhnValid($"c")).collect()
    assert(n(0).isNullAt(0))
    // interpreted mode agrees
    val got2 = interpreted {
      cases.toDF("c").select(ArrayFunctions.luhnValid($"c")).as[Boolean].collect().toSeq
    }
    assert(got2 == got)
    // SQL registration
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_luhn_valid('4111 1111 1111 1111')")
      .head().getBoolean(0))
  }

  test("hand-rolled Md5 is byte-identical to MessageDigest (r10)") {
    // The MinHash family's digests (token components AND band buckets)
    // run on graft.Md5 since r10 — fuzz every length class through both
    // implementations: empty, the 55/56/63/64 padding boundaries, long
    // multi-block inputs, and random bytes (including invalid UTF-8).
    val jdk = java.security.MessageDigest.getInstance("MD5")
    val own = new org.apache.spark.sql.graft.Md5
    val out = new Array[Byte](16)
    val rnd = new scala.util.Random(42)
    val lengths =
      (0 to 70) ++ Seq(119, 120, 121, 127, 128, 129, 1000, 4096, 65537)
    for (len <- lengths; rep <- 0 until (if (len <= 70) 3 else 1)) {
      val buf = new Array[Byte](len + 7) // slack beyond len must be ignored
      rnd.nextBytes(buf)
      own.digest(buf, len, out)
      val expect = jdk.digest(java.util.Arrays.copyOf(buf, len))
      assert(java.util.Arrays.equals(out, expect),
        s"digest mismatch at len=$len rep=$rep")
    }
  }
}

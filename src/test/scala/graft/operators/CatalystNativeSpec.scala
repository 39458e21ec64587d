package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorExprs

/** Cross-checks for the Catalyst-native fast paths: they must produce
  * exactly the results of the built-ins-only formulations they replace. */
class CatalystNativeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ppmExact survives corpus-scale numerators where int64 ppm wraps, equal in-range") {
    import spark.implicits._
    import graft.functions.TextFunctions.{ppm, ppmExact}
    // 9e12 shared shingles of 1.2e13: num*1e6 = 9e18 < Long.Max barely;
    // push to 9.3e12 where it wraps. Expected values via BigInt.
    val rows = Seq(
      (9300000000000L, 12400000000000L),  // wraps the int64 path
      (5000000000000L, 18000000000000L),  // wraps
      (123456L, 789012L),                 // in-range: both paths equal
      (0L, 5L), (5L, 0L))                 // zero num / zero den
    val df = rows.toDF("num", "den")
    val got = df.select($"num", $"den", ppmExact($"num", $"den").as("x")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (n, d) =>
      val want = if (d == 0) 0L else (BigInt(n) * 1000000 / BigInt(d)).toLong
      assert(got((n, d)) == want, s"ppmExact($n, $d)")
    }
    // parity with the int64 path across random in-range values
    val rnd = new scala.util.Random(11)
    val inRange = (1 to 200).map(_ => (math.abs(rnd.nextLong()) % 9000000000000L,
      1L + math.abs(rnd.nextLong()) % 9000000000000L)).toDF("num", "den")
    assert(inRange.filter(ppm($"num", $"den") =!= ppmExact($"num", $"den")).count() == 0L)
  }

  test("DotLongArrays == zip_with/aggregate formulation (codegen + interpreted)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextLong() % 1000000L), Seq.fill(64)(rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      VectorExprs.dotQ($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, x) => acc + x).as("ref"))
    assert(both.filter($"fast" =!= $"ref").count() == 0L)
  }

  test("DotLongArrays handles nulls and length mismatch") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 5L))),
      (None, Some(Seq(1L)))
    ).toDF("a", "b")
    val r = df.select(VectorExprs.dotQ($"a", $"b").as("d")).collect()
    assert(r(0).getLong(0) == 1L * 4 + 2L * 5)
    assert(r(1).isNullAt(0))
  }

  test("ExactIntHistogramAgg == collect_list formulation on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- 0 until 13
      _ <- 0 until (5 + rnd.nextInt(400))
    } yield (s"g$g", rnd.nextInt(500).toLong)
    val df = rows.toDF("g", "v")
    val fast = ExactPercentiles.histogram(df, Seq("g"), $"v")
    val ref  = CatalystNativeSpec.histogramViaCollect(df, Seq("g"), $"v")
    val cols = fast.columns.sorted
    assert(ref.columns.sorted.toSeq == cols.toSeq)
    val f = fast.select(cols.map(col): _*).orderBy("g").collect().map(_.toSeq)
    val r = ref.select(cols.map(col): _*).orderBy("g").collect().map(_.toSeq)
    assert(f.toSeq == r.toSeq)
  }

  test("dot_q is available from SQL via GraftExtensions") {
    // getOrCreate reuses the suite session (built without extensions), so
    // force a fresh SparkSession over the shared SparkContext.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val r = s2.sql("SELECT dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").collect().head
      assert(r.getLong(0) == 32L)
    } finally {
      prior.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    }
  }

  test("relational simhash == column-expression simhash48") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val relational = Dedup.simhashTable(docs, "doc_id", "text")
    val columnar = docs.select($"doc_id".as("doc"), Dedup.simhash48(tokens($"text")).as("sig2"))
    assert(relational.join(columnar, "doc").filter($"sig" =!= $"sig2").count() == 0L)
  }

  test("relational minhash mins == column-expression withMinhashSignature") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val sh = Dedup.withShingles(docs, "text", 3)
      .select($"doc_id".as("doc"), $"shingles").filter(size($"shingles") > 0)
    val columnar = Dedup.withMinhashSignature(sh, 8)
      .select($"doc", $"minhash")
    val ex = Dedup.shingleTable(docs, "doc_id", "text", 3)
      .withColumn("h31", Dedup.hash31($"s"))
    val relational = ex.groupBy($"doc").agg(
      array((0 until 8).map(i =>
        min((lit(Dedup.minhashA(i)) * $"h31" + lit(Dedup.minhashB(i))) % Dedup.MinhashP)): _*).as("mh"))
    assert(columnar.join(relational, "doc").filter($"minhash" =!= $"mh").count() == 0L)
  }

  test("embeddingNearDupPairs finds planted near-duplicate vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    // plant near-dups: ids 100+i are tiny perturbations of ids 0..4
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, "vec_id", "embedding",
      minCosPpm = 990000L, nPlanes = 6, dims = 64)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // near-identical vectors land in the same LSH bucket and pass the
    // cosine threshold
    assert((0 until 5).forall(i => pairs.contains((i.toLong, 100L + i))), s"got $pairs")
    assert(pairs.forall { case (a, b) => b - a == 100L })
  }

  test("plane coefficients match the SQL md5 derivation") {
    import spark.implicits._
    val sqlCoefs = spark.range(1).select(
      (0 until 4).flatMap(p => (0 until 4).map(i =>
        (conv(substring(md5(lit(s"plane${p}_$i")), 1, 15), 16, 10).cast("long") % 2001L - 1000L)
          .as(s"c_${p}_$i"))): _*).collect().head
    var k = 0
    for (p <- 0 until 4; i <- 0 until 4) {
      assert(sqlCoefs.getLong(k) == Similarity.planeCoefValue(p, i), s"plane $p dim $i")
      k += 1
    }
  }
}

object CatalystNativeSpec {

  /** Built-ins-only formulation (sort_array + element_at + higher-order
    * aggregate): exact same results, memory O(rows-per-group) — kept as the
    * cross-check reference for the custom aggregate. */
  def histogramViaCollect(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame = {
    val g = df
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(valueCol)).as("vals"))
      .withColumn("n", size(col("vals")).cast("long"))
    val n     = col("n")
    val vals  = col("vals")
    // element_at is 1-based; the reference indexes 0-based.
    def at(idx0: Column): Column = element_at(vals, (idx0 + 1).cast("int"))
    // (a+b)/2 via double is exact (division by a power of two) and the cast
    // truncates toward zero exactly like Go's integer division on positives.
    val median = when(n % 2 === 0, ((at(n / 2 - 1) + at(n / 2)) / lit(2L)).cast("long"))
      .otherwise(at(n / 2))
    val p95 = at(floor(n.cast("double") * lit(0.95d)).cast("long"))
    val p99 = at(floor(n.cast("double") * lit(0.99d)).cast("long"))
    def bucket(pred: Column => Column): Column =
      aggregate(vals, lit(0L), (acc, x) => acc + when(pred(x), 1L).otherwise(0L))
    g.withColumn("cnt", n)
      .withColumn("min_v", element_at(vals, 1))
      .withColumn("max_v", element_at(vals, -1))
      .withColumn("sum_v", aggregate(vals, lit(0L), _ + _))
      // `div` is exact integral division — double division + cast could
      // diverge from the reference's integer mean at 1-ulp boundaries.
      .withColumn("mean_v", expr("sum_v div cnt"))
      .withColumn("median_v", median)
      .withColumn("p95_v", p95)
      .withColumn("p99_v", p99)
      .withColumn("below_p50", bucket(_ < median))
      .withColumn("p50_to_p95", bucket(x => x >= median && x < p95))
      .withColumn("p95_to_p99", bucket(x => x >= p95 && x < p99))
      .withColumn("above_p99", bucket(_ >= p99))
      .drop("vals", "n", "sum_v")
  }
}

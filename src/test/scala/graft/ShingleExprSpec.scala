package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Identity oracle for the r06 native shingle/minhash expressions: the
  * codegen'd row-level kernels must be BIT-identical to the Catalyst HOF
  * chains they replaced (which stay in Dedup as the reference forms). */
class ShingleExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs = {
    import spark.implicits._
    (graft.corpus.PageGen.pages(spark, 120, 4)
      .collect().toSeq.zipWithIndex.map { case (p, i) => (i.toLong, p.text) } ++ Seq(
      (10001L, ""), // no tokens
      (10002L, "one"), // fewer tokens than n
      (10003L, "a b"), // exactly n-1
      (10004L, "a b c"), // exactly n
      (10005L, "x y z x y z x y z"), // duplicate shingles
      (10006L, "Tab\tand  punct!! mixed CASE tokens 42 a1b2"),
      (10007L, "héllo wörld déjà vu héllo wörld déjà vu encore") // non-ASCII
    )).toDF("id", "text")
  }

  test("graft_shingles == array_distinct(filter(transform(...))) incl. order") {
    graft.plans.GraftFunctions.register(spark)
    val toks = Dedup.tokensOf(col("text"))
    val both = docs.select(col("id"),
      Dedup.shinglesOf(toks, 3).as("hof"),
      Dedup.nativeShingles(toks, 3).as("native"))
    val bad = both.filter(not(col("hof") <=> col("native")))
    assert(bad.count() == 0, bad.collect().take(3).mkString("\n"))
    // and for n=2 (different window size)
    val both2 = docs.select(
      Dedup.shinglesOf(toks, 2).as("hof"),
      Dedup.nativeShingles(toks, 2).as("native"))
    assert(both2.filter(not(col("hof") <=> col("native"))).count() == 0)
  }

  test("graft_shingles skips null tokens like concat_ws (arbitrary SQL arrays)") {
    // tokensCol never emits a null token, but graft_shingles is a
    // registered SQL function over any array<string>. The repartition
    // keeps the arrays out of the optimizer's local-relation fold, so the
    // kernel reads them as UnsafeArrayData, as in a real scan.
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val arrays = Seq[(Long, Seq[String])](
      (1L, Seq("a", null, "b", "c")),
      (2L, Seq(null, null, null)),
      (3L, Seq("x", "y", null)),
      (4L, Seq(null, "p", "q", "r", null, "p", "q")),
      (5L, Seq("solo", null))
    ).toDF("id", "toks").repartition(2)
    for (n <- Seq(2, 3)) {
      val both = arrays.select(col("id"),
        Dedup.shinglesOf(col("toks"), n).as("hof"),
        Dedup.nativeShingles(col("toks"), n).as("native"))
      val bad = both.filter(not(col("hof") <=> col("native")))
      assert(bad.count() == 0, s"n=$n: " + bad.collect().take(3).mkString("\n"))
    }
  }

  test("graft_minhash element i == array_min(transform(sh, md5(seed_i || sh)))") {
    graft.plans.GraftFunctions.register(spark)
    val k = 16
    val sh = Dedup.nativeShingles(Dedup.tokensOf(col("text")), 3)
    val withSh = docs.select(col("id"), explode(array(sh)).as("__sh"))
    val hof = (0 until k).map(i =>
      array_min(transform(col("__sh"), s => md5(concat(lit(s"seed$i:"), s)))).as(s"h$i"))
    val native = (0 until k).map(i =>
      call_function("graft_minhash", col("__sh"), lit(k)).getItem(i).as(s"n$i"))
    val both = withSh.select((col("id") +: (hof ++ native)): _*)
    val mismatch = both.filter(
      (0 until k).map(i => not(col(s"h$i") <=> col(s"n$i"))).reduce(_ || _))
    assert(mismatch.count() == 0, mismatch.collect().take(3).mkString("\n"))
  }

  test("minhashBands output is unchanged by the native rewrite (golden shape)") {
    // band signature determinism: same (id, band, sig) rows as the
    // definition guarantees — spot-pin a couple of invariants
    val b = Dedup.minhashBands(docs, "id", "text", 3, 16, 4)
    val rows = b.collect()
    val ids = docs.select(Dedup.nativeShingles(Dedup.tokensOf(col("text")), 3).as("a"), col("id"))
      .filter(size(col("a")) > 0).select("id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == ids) // docs with shingles only
    assert(rows.groupBy(r => r.getLong(0)).values.forall(_.length == 4)) // 4 bands each
    // every sig is 4 pipe-joined 32-hex-char md5 minima
    assert(rows.forall(_.getString(2).split("\\|", -1).forall(_.matches("[0-9a-f]{32}"))))
  }
}

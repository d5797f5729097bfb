package graft

import org.apache.spark.sql.functions._

import graft.functions.{Fnv64, Kernels, VectorFunctions}

class GraftExtensionsSpec extends SparkTestBase {

  test("SQL users reach the kernels after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_fnv64('hello') AS h,
        |  graft_simhash64(split('a b c', ' ')) AS sh,
        |  size(graft_minhash(array('x y z', 'y z w'), 16, 42)) AS msize,
        |  size(graft_winnow('abcdefgh', 5, 2)) AS wsize,
        |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |  graft_srp_code(array(1.0D, 2.0D), 2, 4, 42) AS srp,
        |  graft_alpha_token_count('the 123 a1') AS alpha
        |""".stripMargin).head()
    assert(r.getAs[Long]("h") == Fnv64.hash("hello"))
    assert(r.getAs[Int]("msize") == 16)
    assert(r.getAs[Int]("wsize") >= 1)
    assert(r.getAs[Double]("cos") == 1.0)
    assert(r.getAs[Int]("alpha") == 2)
  }

  test("kernel cosine is bit-identical to the declarative HOF form") {
    import graft.TestSpark.spark.implicits._
    val floats = Seq(
      (Array(0.1f, -0.7f, 0.33f), Array(0.9f, 0.2f, -0.5f)),
      (Array(1e-8f, 2e8f, 3f), Array(4f, -5e-6f, 6e6f))).toDF("a", "b")
    val both = floats.select(
      VectorFunctions.cosine(col("a"), col("b")).as("k"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("h")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val doubles = Seq((Array(0.1, 0.2, 0.3), Array(-0.4, 0.5, 0.6))).toDF("a", "b")
    val r2 = doubles.select(
      VectorFunctions.cosine(col("a"), col("b")).as("k"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("h")).head()
    assert(java.lang.Double.doubleToLongBits(r2.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r2.getDouble(1)))
  }

  test("SQL aggregates: topk, minhash union, vector sum") {
    GraftExtensions.register(spark)
    import graft.TestSpark.spark.implicits._
    Seq(("g", 0.9, 1L, Array(1.0, 2.0)), ("g", 0.8, 2L, Array(3.0, 4.0)))
      .toDF("grp", "score", "id", "vec").createOrReplaceTempView("agg_in")
    val r = spark.sql("""
      SELECT graft_topk(score, id, 1) AS top,
             graft_vector_sum(vec, 2) AS vsum
      FROM agg_in GROUP BY grp""").head()
    val top = r.getSeq[org.apache.spark.sql.Row](0)
    assert(top.length == 1 && top.head.getLong(1) == 1L)
    assert(r.getSeq[Double](1) == Seq(4.0, 6.0))

    Seq(("a", Array(5L, 9L)), ("a", Array(7L, 3L)))
      .toDF("grp", "sig").createOrReplaceTempView("sig_in")
    val u = spark.sql(
      "SELECT graft_minhash_union(sig, 2) AS usig FROM sig_in GROUP BY grp")
      .head().getSeq[Long](0)
    assert(u == Seq(5L, 3L))
  }

  test("the spark.sql.extensions injection path registers every function") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    org.apache.spark.sql.graftbridge.ColumnBridge
      .registerInjectedFunctions(ext, registry)
    GraftExtensions.builders.foreach { case (name, _) =>
      assert(registry.functionExists(FunctionIdentifier(name)), name)
    }
  }

  test("register keeps the registrations spark.sql.extensions made and " +
    "adds only missing names") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def entry(name: String) = registry.lookupFunction(FunctionIdentifier(name))
    // the suite session runs baseConf, so the extension injected all
    val before = GraftExtensions.builders.map { case (name, _) =>
      name -> entry(name) }.toMap
    assert(before.values.forall(_.isDefined), before)
    registry.dropFunction(FunctionIdentifier("graft_fnv64"))
    try {
      GraftExtensions.register(spark)
      // a replaced entry is a new ExpressionInfo (and a logged warning)
      GraftExtensions.builders.collect { case (name, _) if name != "graft_fnv64" =>
        assert(entry(name).get eq before(name).get, s"$name was replaced")
      }
      assert(registry.functionExists(FunctionIdentifier("graft_fnv64")))
      assert(spark.sql("SELECT graft_fnv64('hello')").head().getLong(0) ==
        Fnv64.hash("hello"))
    } finally {
      registry.dropFunction(FunctionIdentifier("graft_fnv64"))
      val (_, (info, builder)) =
        GraftExtensions.builders.find(_._1 == "graft_fnv64").get
      registry.registerFunction(FunctionIdentifier("graft_fnv64"), info, builder)
    }
  }
}

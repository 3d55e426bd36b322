package graft

import org.apache.spark.sql.functions._

/** SQL surface of the native vector expressions: interpreted eval,
  * codegen eval, and the SQL registration path must all agree. */
class GraftExtensionsSpec extends SparkSpec {

  test("vec_dot/vec_norm_sq/vec_cosine work from SQL and match VectorOps") {
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb")
    val viaSql = spark.sql(
      """SELECT a.vec_id AS x, b.vec_id AS y,
        |  vec_dot(a.embedding, b.embedding) AS d,
        |  vec_norm_sq(a.embedding) AS n2,
        |  vec_cosine(a.embedding, b.embedding) AS c
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id""".stripMargin)
      .orderBy("x", "y").collect()
    val e = spark.table("emb")
    val viaApi = e.select(col("vec_id").as("x"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("y"), col("embedding").as("eb")),
        col("x") < col("y"))
      .select(col("x"), col("y"),
        graft.functions.VectorOps.dot(col("ea"), col("eb")).as("d"),
        graft.functions.VectorOps.normSq(col("ea")).as("n2"),
        graft.functions.VectorOps.cosine(col("ea"), col("eb")).as("c"))
      .orderBy("x", "y").collect()
    assert(viaSql.length == viaApi.length && viaSql.length > 0)
    viaSql.zip(viaApi).foreach { case (s, a) =>
      assert(s.getDouble(2) == a.getDouble(2))
      assert(s.getDouble(3) == a.getDouble(3))
      assert(s.getDouble(4) == a.getDouble(4))
    }
  }

  test("graft_mdhash64 from SQL matches the conv/substr/md5 built-in chain") {
    val rows = spark.sql(
      """SELECT graft_mdhash64(id) AS native,
        |  CAST(conv(substr(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS chain
        |FROM range(1000)""".stripMargin).collect()
    assert(rows.length == 1000)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("interpreted eval matches codegen for the vector expressions") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = new GenericArrayData(Array(1.0f, 2.0f, 3.0f))
    val b = new GenericArrayData(Array(0.5f, -1.0f, 2.0f))
    val one = org.apache.spark.sql.GraftShim.expression(lit(1))
    val dot = graft.functions.VecDot(one, one)
    assert(dot.nullSafeEval(a, b) == 1.0 * 0.5 - 2.0 + 3.0 * 2.0)
    val n2 = graft.functions.VecNormSq(one)
    assert(n2.nullSafeEval(a) == 1.0 + 4.0 + 9.0)
  }
}

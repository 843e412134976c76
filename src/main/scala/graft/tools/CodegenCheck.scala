package graft.tools
import org.apache.spark.sql.functions._

/** Drives the codegen-implementing custom expressions (currently PqAdc)
  * under `spark.sql.codegen.factoryMode=CODEGEN_ONLY` with fallback
  * DISABLED — janino failures in generated code normally degrade silently
  * to interpreted evaluation, so the regular test suite cannot distinguish
  * "codegen works" from "codegen broke and fell back". This main throws if
  * the generated code does not compile. Run after touching any doGenCode.
  */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString,
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    import spark.implicits._
    val corpus = Seq((1L, Array(1f,0f,0f,0f)), (2L, Array(0f,1f,0f,0f)),
      (3L, Array(0.9f,0.1f,0f,0f))).toDF("vec_id","embedding")
    val q = corpus.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val cb = graft.operators.Similarity.pqCodebooks(corpus, "vec_id", "embedding", 2, 3, 3, 0)
    val out = graft.operators.Similarity.pqTopK(corpus, q, "vec_id","embedding","query_id","qv",3,cb)
      .collect()
    println(s"[codegen-only] pq rows=${out.length} top=${out.head}")
    // VecDot (float + double lanes) through the brute-force scorer
    val brute = graft.operators.Similarity.bruteForceTopK(corpus, q,
      "vec_id", "embedding", "query_id", "qv", 3).collect()
    println(s"[codegen-only] brute rows=${brute.length} top=${brute.head}")
    graft.functions.VectorFunctions.register(spark)
    val dd = spark.sql("select graft_vec_dot(array(1.0D,2.0D), array(3.0D,4.0D))").collect().head.get(0)
    println(s"[codegen-only] double dot=$dd")
    require(dd == 11.0)
    // NearestCentroidDist generated loop (addReferenceObj'd double[][])
    val nd = corpus.select(
        graft.operators.Clustering.sqDistCol("embedding",
          Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))).as("d"))
      .collect().map(_.getDouble(0)).sorted
    println(s"[codegen-only] nearest-centroid dists=${nd.mkString(",")}")
    require(nd.head == 0.0 && math.abs(nd(1) - 0.02) < 1e-6 && nd(2) == 2.0)
    spark.stop()
  }
}

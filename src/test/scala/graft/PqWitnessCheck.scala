package graft
import org.apache.spark.sql.functions._
import graft.ext.{ProductQuant, Similarity, TextAnalysis}
object PqWitnessCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(cpus = 8)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = graft.sources.Tables.table(spark, s"/root/testdata/$sf", "documents")
      val vecs = TextAnalysis.hashingVectorizer(docs).withColumnRenamed("doc_id", "vec_id")
      val queries = vecs.where(col("vec_id") < 10)
      val cb = ProductQuant.pqFit(vecs)
      val t0 = System.nanoTime()
      val pq = ProductQuant.knnPq(vecs, queries, k = 5, cb)
        .select("query_id","cand_id").collect().map(r=>(r.getLong(0),r.getLong(1))).toSet
      val sec = (System.nanoTime()-t0)/1e9
      val bf = Similarity.knnBruteForce(vecs, queries, k = 5, force = true)
        .select("query_id","cand_id").collect().map(r=>(r.getLong(0),r.getLong(1))).toSet
      println(f"TEXTKNN $sf recall=${(pq & bf).size.toDouble/bf.size}%.3f sec=$sec%.1f")
    }
    spark.stop()
  }
}

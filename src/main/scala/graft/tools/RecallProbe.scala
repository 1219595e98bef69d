package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.io.Tables
import graft.llm.Similarity

/** Throwaway diagnostic: print the recall-gate overlap margins at each
  * sf so the gate thresholds are set with headroom, not luck.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      def ov(exact: org.apache.spark.sql.DataFrame,
          approx: org.apache.spark.sql.DataFrame,
          keys: Seq[String]): (Long, Long) = {
        val e = exact.select(keys.map(col): _*)
        val a = approx.select(keys.map(col): _*).dropDuplicates(keys)
        (e.join(a, keys, "left_semi").count(), e.count())
      }
      val lsh = ov(Similarity.euclidTopK(emb),
        Similarity.annTopK(emb, k = 10, bucketLength = 1.0,
          numHashTables = 4, maxDistance = 1.5), Seq("vec_id"))
      val ivf = ov(Similarity.cosineTopK(emb),
        Similarity.ivfTopK(emb, k = 10, nlist = 16, nprobe = 8),
        Seq("vec_id"))
      val probeDir = s"/tmp/ivf_probe_$sf"
      Similarity.ivfWriteIndex(emb, probeDir)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), _.cast("double")).as("q"))
        .head().getSeq[Double](0).toArray
      val prb = ov(Similarity.cosineTopK(emb),
        Similarity.ivfProbeIndex(spark, probeDir, qv, 10, 8, 0L),
        Seq("vec_id"))
      val nd = ov(Similarity.exactCosinePairs(emb, 0.4),
        Similarity.cosineNearDupPairs(emb, 1.1, 0.4),
        Seq("vec_a", "vec_b"))
      println(s"RECALL $sf lsh=${lsh._1}/${lsh._2} ivf=${ivf._1}/${ivf._2} " +
        s"probe=${prb._1}/${prb._2} neardup=${nd._1}/${nd._2}")
    }
    spark.stop()
  }
}

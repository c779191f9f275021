package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

import graft.operators.Similarity

/** Diagnostic: the in-bucket candidate-pair count of q_dedup_embed's
  * hyperplane LSH (Σ over buckets of C(n,2)) at a given sfDir and bit
  * width — the number the 100-TB design note must track, since at FIXED
  * bits the per-bucket population grows linearly with the corpus and
  * the pair scan quadratically. Usage:
  *   runMain graft.tools.LshCandidates [sfDir] [bits...]
  */
object LshCandidates {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bitsList = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(8, 10, 12)
    val spark = GraftSession.builder("16", "16").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the q_dedup_embed corpus: embeddings ∪ id-shifted copy
    val corpus = e.unionAll(
      e.select((col("vec_id") + 100000000L).as("vec_id"), col("embedding")))
    val n = corpus.count()
    bitsList.foreach { bits =>
      val planes = Similarity.hyperplanes(bits, 64)
      val sizes = corpus
        .select(Similarity.lshBucket(col("embedding"), planes).as("b"))
        .groupBy("b").count()
      val row = sizes.agg(
        count(lit(1)).as("buckets"),
        max("count").as("max_bucket"),
        sum(expr("count * (count - 1) div 2")).as("cand_pairs")).collect()(0)
      println(s"[lsh] sf=$sfDir corpus=$n bits=$bits " +
        s"buckets=${row.getLong(0)} max_bucket=${row.getLong(1)} " +
        s"cand_pairs=${row.getLong(2)}")
    }
    spark.stop()
  }
}

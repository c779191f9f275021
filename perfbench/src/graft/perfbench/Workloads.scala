package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{NativeText, NativeVec, TopKAggregate}
import graft.operators.{ConnectedComponents, IvfIndex, MinHashLSH}

/** Named counters a workload adds to while tracing. */
final class Counters {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = m(name) = m.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = m(name) = v
  def snapshot: Map[String, Double] = m.toMap
}

trait Workload {
  def name: String
  /** One entry per operation of a pass, in run order. */
  def opNames: Seq[String]
  /** Seeded input files the program cannot take as given. */
  def prepareInputs(): Unit = ()
  /** Part of set-up: start what the operations need. */
  def startFixtures(spark: SparkSession, rep: Int): Unit = ()
  /** Untimed reset before each pass. */
  def beforePass(spark: SparkSession): Unit = ()
  def runOp(spark: SparkSession, i: Int): Unit
  /** Counters of a traced pass read after it, outside its window. */
  def passCounters(): Map[String, Double] = Map.empty
}

/** Registry queries through the noop sink: `Queries` builds each plan
  * (the span `Queries.build`, which includes any eager jobs the builder
  * runs), then Spark executes it (`execute`). */
final class RegistryWorkload(val name: String, keys: Seq[String], data: String,
                             tr: Tracing) extends Workload {
  private val registry = SparkEntry.queries
  def opNames: Seq[String] = keys

  def build(spark: SparkSession, key: String): DataFrame = registry(key)(spark, data)

  def runOp(spark: SparkSession, i: Int): Unit = {
    val jobsBefore = tr.jobsStarted()
    val df = tr.tracer.span("Queries.build")(build(spark, keys(i)))
    if (tr.on) tr.counters.add("Queries.build_jobs", (tr.jobsStarted() - jobsBefore).toDouble)
    tr.tracer.span("execute")(df.write.mode("overwrite").format("noop").save())
  }
}

object RegistryWorkload {
  /** The curation keys, in registry order. `q_dedup_embed` is left out:
    * its DuckDB oracle is far too slow for a per-run check. */
  val curationKeys = Seq("q_corpus_build", "q_dedup_minhash", "q_dedup_clusters",
    "q_dedup_simhash", "q_ann_ivf", "q_knn_graph", "q_semdedup")

  /** The registry sample: every 40th bench key in name order, after the
    * curation keys are taken out. The rule never looks at timings; the
    * seed only shuffles the run order. */
  def sample(seed: Long): Seq[String] = {
    val eligible = SparkEntry.benchQueries.filterNot(curationKeys.contains)
      .filterNot(_ == "q_dedup_embed").sorted
    val picked = eligible.zipWithIndex.collect { case (k, i) if i % 40 == 0 => k }
    new scala.util.Random(seed).shuffle(picked)
  }
}

/** Single-layer probes over the curation input, run once in a traced
  * invocation after the measured passes. */
object LayerProbes {
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def timed(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** ns per row of `kernel` over a cached input: the projection with
    * the kernel minus the same pass with only the baseline column,
    * each the median of five runs. */
  private def nsPerRow(in: DataFrame, rows: Long, kernel: DataFrame => DataFrame,
                       baseline: DataFrame => DataFrame): Double = {
    val k = kernel(in)
    val b = baseline(in)
    timed(k); timed(b)
    val tk = median((1 to 5).map(_ => timed(k)))
    val tb = median((1 to 5).map(_ => timed(b)))
    math.max(tk - tb, 0.0) / rows * 1e9
  }

  def kernels(spark: SparkSession, data: String, out: Counters): Unit = {
    val reps = spark.range(20).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars")).crossJoin(reps)
      .select((col("doc_id") * 20 + col("rep")).as("doc_id"), col("text"), col("n_chars"),
        NativeText.hashed_shingles(col("text"), 3).as("sh"))
      .cache()
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select(col("embedding"))
      .crossJoin(reps).select(col("embedding")).cache()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    def mx(c: org.apache.spark.sql.Column) = (d: DataFrame) => d.agg(max(c))
    out.set("functions.hashed_shingles_ns_row", nsPerRow(docs, nDocs,
      mx(size(NativeText.hashed_shingles(col("text"), 3))), mx(length(col("text")))))
    out.set("functions.minhash_signature_ns_row", nsPerRow(docs, nDocs,
      mx(element_at(NativeText.minhash_signature(col("sh"), 32), 1)), mx(size(col("sh")))))
    out.set("functions.simhash_ns_row", nsPerRow(docs, nDocs,
      mx(NativeText.simhash64(col("text"))), mx(length(col("text")))))
    out.set("functions.sq_dist_ns_row", nsPerRow(vecs, nVecs,
      mx(NativeVec.sq_dist(col("embedding"), col("embedding"))), mx(size(col("embedding")))))
    out.set("functions.sorted_pairs_ns_row", nsPerRow(docs, nDocs,
      mx(size(NativeVec.sorted_pairs(slice(col("sh"), 1, 16)))), mx(size(slice(col("sh"), 1, 16)))))
    out.set("functions.topk_by_ns_row", nsPerRow(docs, nDocs,
      d => d.groupBy(pmod(col("doc_id"), lit(256)))
        .agg(TopKAggregate.topk_by(col("n_chars").cast("double"), col("doc_id"), 5)),
      d => d.groupBy(pmod(col("doc_id"), lit(256))).agg(max(col("n_chars")))))
    docs.unpersist()
    vecs.unpersist()
  }

  /** Useful-work ratios of the curation operators, with the parameters
    * `q_dedup_minhash`, `q_dedup_clusters` and `q_ann_ivf` use. */
  def operators(spark: SparkSession, data: String, plans: PlanListener,
                drain: () => Unit, out: Counters): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val sh = MinHashLSH.shingled(docs, "doc_id", "text", 3, sqlReplicable = true)
    val candidates = MinHashLSH.candidatePairs(sh, "doc_id", 8, 4, 1000,
      sqlReplicable = true).count()
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text", shingleK = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.8, sqlReplicable = true)
      .select("id_a", "id_b").localCheckpoint()
    val verified = pairs.count()
    out.set("operators.lsh_candidate_pairs", candidates.toDouble)
    out.set("operators.lsh_verified_ratio", if (candidates > 0) verified.toDouble / candidates else 0.0)
    // each propagation round ends in one convergence count
    drain()
    val before = plans.actionCount("count")
    ConnectedComponents.minLabelPropagation(pairs, "id_a", "id_b").count()
    drain()
    out.set("operators.cc_rounds", (plans.actionCount("count") - before - 1).toDouble)

    val e = spark.read.parquet(s"$data/embeddings.parquet")
    val cents = IvfIndex.trainReplicable(e, "vec_id", "embedding", nlist = 16, iters = 3,
      sampleMod = 4)
    val cells = IvfIndex.assign(e, "vec_id", "embedding", cents)
    val probes = e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"),
      explode(NativeVec.nearest_cells(col("embedding"), cents, 4)).as("cid"))
    val nq = probes.select("q_id").distinct().count()
    val evals = probes.join(cells, "cid").filter(col("q_id") =!= col("vec_id")).count()
    out.set("operators.ann_dist_evals_per_query", if (nq > 0) evals.toDouble / nq else 0.0)
  }
}

package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, FeederTransforms}
import graft.sources.{JdbcFeed, ZippedTabular}
import graft.sources.v2.{ExportLifecycle, LoopbackPageServer}

/** The feeder sweep: ten waves, each fed twice. One feed is one
  * operation: export create/poll/download of the wave's correction
  * sheet over the loopback server, zip/XLSX decode, paged ingest over
  * HTTP with the feeder transforms, existing-key read with the wave
  * predicate pushed into Derby, anti-join dedup, JDBC append, MERGE
  * upsert of the corrections, and a paged-sink export of the wave.
  *
  * Derby runs in memory, so the figures measure graft rather than the
  * disk's fsync. */
final class Feeder(feedDir: String, work: File, cores: Int, tr: Tracing)
  extends Workload {
  import tr.{counters, tracer}
  private val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new File(feedDir, "plan.json"))
  private val pageRows = plan.get("page_rows").asInt()
  private val feeds: Seq[(Int, Int)] = plan.get("feed_order").elements().asScala
    .map(n => (n.get(0).asInt(), n.get(1).asInt())).toSeq
  private def cut(w: Int): Long = plan.get("cut").get(w.toString).asLong()
  private def pagesListed(w: Int): Int = plan.get("pages").get(w.toString).asInt()
  private def sheetRows(w: Int, f: Int): Int = plan.get("sheet_rows").get(s"w$w-f$f").asInt()

  private val token = "tok-perfbench"
  private val notReadyPolls = 2
  private val zipDir = new File(work, "zips")
  private var fixture: File = _
  private var url: String = _
  private var pass = 0
  private val derbySeq = new java.util.concurrent.atomic.AtomicInteger

  val name = "feeder_sweep"
  def opNames: Seq[String] = feeds.map { case (w, f) => s"w$w-f$f" }

  /** The correction sheets as zipped single-worksheet XLSX exports. */
  override def prepareInputs(): Unit = {
    zipDir.mkdirs()
    feeds.foreach { case (w, f) =>
      val lines = Files.readAllLines(new File(feedDir, s"corr/w$w-f$f.tsv").toPath).asScala
      val rows = lines.tail.map(_.split("\t")).map(a =>
        Seq[Any](a(0).toLong, a(1).toLong, a(2), a(3).toLong))
      val out = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(new File(zipDir, s"corr-w$w-f$f.zip")))
      try {
        out.putNextEntry(new java.util.zip.ZipEntry("results.xlsx"))
        val bos = new java.io.ByteArrayOutputStream()
        ZippedTabular.writeXlsx(bos, lines.head.split("\t").toSeq, rows.toSeq)
        out.write(bos.toByteArray)
        out.closeEntry()
      } finally out.close()
    }
  }

  private def linkAll(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().foreach(f => Files.createLink(new File(to, f.getName).toPath, f.toPath))
  }

  /** Fresh fixture: the input pages and export artifacts linked into a
    * new directory and served by new loopback servers, and an empty
    * in-memory Derby table. */
  override def startFixtures(spark: SparkSession, rep: Int): Unit = {
    fixture = new File(work, s"fixture$rep")
    (0 until plan.get("waves").asInt()).foreach(w =>
      linkAll(new File(feedDir, s"pages/w$w"), new File(fixture, s"pages/w$w")))
    linkAll(zipDir, new File(fixture, "export"))
    (0 until plan.get("waves").asInt()).foreach(w =>
      LoopbackPageServer.serve(new File(fixture, s"pages/w$w").getPath))
    LoopbackPageServer.serve(new File(fixture, "export").getPath)
    freshDatabase()
  }

  private def freshDatabase(): Unit = {
    Option(url).foreach(u =>
      try java.sql.DriverManager.getConnection(u + ";drop=true")
      catch { case _: java.sql.SQLException => () })
    url = s"jdbc:derby:memory:feed${derbySeq.incrementAndGet()}"
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE feed (o_orderkey BIGINT PRIMARY KEY, wave INT, custkey BIGINT, " +
          "name VARCHAR(24), segment CLOB, result VARCHAR(8), status VARCHAR(12), " +
          "ivdate VARCHAR(10), amount INT, priority CLOB)")
      st.executeUpdate("CREATE INDEX feed_wave ON feed(wave)")
    } finally conn.close()
  }

  /** Each pass starts from an empty database and empty download and
    * sink directories. */
  override def beforePass(spark: SparkSession): Unit = {
    pass += 1
    if (pass > 1) freshDatabase()
    Seq("downloads", "sink").foreach(d => deleteTree(new File(fixture, d)))
  }

  private val pageSchema =
    "o_orderkey BIGINT, o_custkey BIGINT, c_name STRING, c_mktsegment STRING, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, ivdate STRING, " +
      "o_orderpriority STRING, project STRING"
  private val sheetSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("wave", LongType),
    StructField("status", StringType), StructField("amount", LongType)))
  val tableCols = Seq("o_orderkey", "wave", "custkey", "name", "segment", "result",
    "status", "ivdate", "amount", "priority")

  /** The reference feeder's row transforms over one page scan. */
  private def transform(raw: DataFrame): DataFrame = {
    val result = FeederTransforms.resultFor(col("o_orderstatus"))
    raw.select(
      col("o_orderkey"),
      FeederTransforms.waveFromName(col("project")).as("wave"),
      col("o_custkey").as("custkey"),
      FeederTransforms.truncateTo(col("c_name"), 24).as("name"),
      FeederTransforms.blankToNull(col("c_mktsegment")).as("segment"),
      result.as("result"),
      FeederTransforms.statusFor(result).as("status"),
      FeederTransforms.normalizeDate(col("ivdate")).as("ivdate"),
      FeederTransforms.clampSmallint(floor(col("o_totalprice") / 10).cast("int")).as("amount"),
      FeederTransforms.sentinelToNull(col("o_orderpriority"), "4-NOT SPECIFIED").as("priority"))
      .filter(!FeederTransforms.isReject(col("result")))
  }

  private def waveRows(spark: SparkSession, w: Int): DataFrame =
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", s"(select * from feed where wave = $w) as wave_rows").load()
      .select(tableCols.map(c => col(c.toUpperCase).as(c)): _*)

  def runOp(spark: SparkSession, i: Int): Unit = {
    val (w, f) = feeds(i)
    val exportDir = new File(fixture, "export").getPath
    val base = LoopbackPageServer.serve(exportDir)
    LoopbackPageServer.armExport(exportDir, token, s"corr-w$w-f$f.zip", notReadyPolls)
    val zip = tracer.span("sources.v2.export_fetch") {
      val counter = ExportLifecycle.recruitCounterId(
        ExportLifecycle.listCounters(base, w, token)).get
      ExportLifecycle.fetchExportZip(base, projectId = w, counterId = counter, token = token,
        pollDelayMs = 10L, maxPolls = 10)
    }
    val dl = new File(fixture, s"downloads/w$w-f$f")
    dl.mkdirs()
    Files.write(new File(dl, "export.zip").toPath, zip)
    val sheet = tracer.span("sources.zip_decode") {
      ZippedTabular.readZippedXlsxTyped(spark, dl.getPath + "/*.zip", sheetSchema)
        .select(col("o_orderkey"), col("wave").cast("int").as("wave"), col("status"),
          col("amount").cast("int").as("amount"))
        .localCheckpoint()
    }

    val scan = {
      val all = spark.read.format("graft-paged").schema(pageSchema)
        .option("dir", LoopbackPageServer.serve(new File(fixture, s"pages/w$w").getPath))
        .option("pageRows", pageRows.toString).load()
      if (f == 1) all.filter(col("o_orderkey") <= cut(w)) else all
    }
    val transformed = transform(scan)
    val incoming = tracer.span("sources.v2.page_scan")(transformed.localCheckpoint())
    val existing = tracer.span("sources.jdbc_keys_read") {
      JdbcFeed.existingKeysReader(spark, url, "feed", "o_orderkey", "wave", w).load()
        .select(col("O_ORDERKEY").as("o_orderkey")).localCheckpoint()
    }
    val fresh = Dedup.newRows(incoming, existing, "o_orderkey")
    tracer.span("sources.jdbc_append") {
      JdbcFeed.append(fresh, url, "feed", numWriters = cores, batchSize = 1000)
    }
    tracer.span("sources.jdbc_merge") {
      JdbcFeed.mergeKeyed(sheet, url, "feed", "o_orderkey", Seq("wave", "status", "amount"),
        numWriters = cores, batchSize = 500, createTypes = Some("status VARCHAR(12)"))
    }
    val sink = new File(fixture, s"sink/w$w-f$f")
    tracer.span("sources.v2.sink_write") {
      waveRows(spark, w).repartitionByRange(cores, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.format("graft-paged").option("dir", sink.getPath).mode("append").save()
    }
    // from what the feed already holds: no Spark work inside the traced pass
    if (tracer.on) {
      counters.add("sources.zip_bytes", zip.length)
      counters.add("sources.v2.export_polls", notReadyPolls + 1)
      counters.add("sources.v2.pages_scanned", checkpointPartitions(incoming))
      counters.add("sources.v2.pages_listed", pagesListed(w))
      counters.add("sources.v2.sink_bytes",
        sink.listFiles().filter(_.getName.endsWith(".tsv")).map(_.length).sum)
      counters.add("operators.rows_fed", outputRows(transformed).toDouble)
      counters.add("sources.jdbc_merge_rows", sheetRows(w, f))
    }
  }

  /** Partitions of a checkpointed frame; for the page scan, one per
    * page planned. */
  private def checkpointPartitions(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.getNumPartitions }.get

  /** Rows out of the topmost operator that counts them, from the SQL
    * metrics of `df`'s last execution. */
  private def outputRows(df: DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case p if p.metrics.contains("numOutputRows") =>
      p.metrics("numOutputRows").value }.get
  }

  /** Rows the appends loaded in the pass just run: the merge inserts
    * only the sheet columns, so appended rows are those with a custkey.
    * Read after the pass, outside the traced window. */
  override def passCounters(): Map[String, Double] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT count(*) FROM feed WHERE custkey IS NOT NULL")
      rs.next()
      Map("sources.jdbc_append_rows" -> rs.getLong(1).toDouble)
    } finally conn.close()
  }

  /** The loaded table, for the correctness check, and the directory of
    * each wave's last sink export. */
  def dumpResult(spark: SparkSession, out: File): Map[String, String] = {
    spark.read.format("jdbc").option("url", url).option("dbtable", "feed").load()
      .select(tableCols.map(c => col(c.toUpperCase).as(c)): _*)
      .write.mode("overwrite").parquet(new File(out, "feeder_table").getPath)
    feeds.groupBy(_._1).map { case (w, fs) =>
      w.toString -> new File(fixture, s"sink/w$w-f${fs.map(_._2).max}").getPath
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

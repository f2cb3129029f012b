package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.wikidata.{ClassSets, DumpGen, Extract, Post, WikiTime}

/** One benchmark run of one workload, in a fresh JVM.
  *
  * Arguments are `key=value` pairs:
  *   workload=geodb_pipeline|query_mix|inventory|digest
  *   entities=<n>                         (geodb_pipeline)
  *   data=<dir of input parquet tables>   (query_mix)
  *   queries=<name,name,...>              (query_mix: run in this order)
  *   artifact=<name,...>                  (query_mix: those of `queries`
  *                                         that use persisted artifacts)
  *   work=<empty run dir>  out=<result json>  trace=0|1
  *
  * The run sets up (session, warm-up, then [[SetupReps]] preparations of
  * the input, of which the last is kept), runs the timed region once,
  * checks nothing itself but records every output's row count and
  * canonical digest, and writes raw measurements to `out`; the caller
  * turns them into metrics and compares the outputs with the pins. */
object Main {

  type Query = (SparkSession, String) => DataFrame

  /** Input preparations per run; setup_s takes their median. */
  val SetupReps = 3

  /** The operators modules whose `queries` make up `SparkEntry.queries`. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries, "EventOps" -> EventOps.queries,
    "TextOps" -> TextOps.queries, "Dedup" -> Dedup.queries,
    "DedupStore" -> DedupStore.queries, "Similarity" -> Similarity.queries,
    "Multimodal" -> Multimodal.queries, "Curation" -> Curation.queries,
    "Geo" -> Geo.queries, "MatView" -> MatView.queries)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }
      .getOrElse("unknown")

  /** Fixed evaluation date for the dump's temporal filters, so the
    * pipeline's outputs do not depend on the day it runs. */
  val pipelineNow = WikiTime.parse("+2026-01-01T00:00:00Z", 0).get

  /** One timed operation: its wall time, the CPU time of the whole JVM
    * meanwhile, the artifact leases it took and the files it wrote under
    * the persisted-artifact dirs (`java.io.tmpdir/graft_*`) meanwhile, and
    * its output's digest (rows = -1 for an operation whose output is
    * checked later). */
  final case class Op(name: String, module: String, seconds: Double,
      cpuSeconds: Double, leases: Long, artifactWrites: Long,
      rows: Long, hash: String, error: String)

  /** Runs `body` as one operation; a thrown error is recorded, not raised. */
  def timedOp(name: String, module: String)(body: => Canon.Digest): Op = {
    // Start each operation from a collected heap, as graft.Bench does, so
    // that one operation's garbage is not collected on the next one's time.
    System.gc()
    val (l0, _, _) = Similarity.leaseStatsSnapshot()
    val c0 = Probe.cpuNs()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (d, err) =
      try (body, null)
      catch { case e: Throwable => (Canon.Digest(-1, 0), e.toString) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (Probe.cpuNs() - c0) / 1e9
    val (l1, _, _) = Similarity.leaseStatsSnapshot()
    val touched = Probe.artifactDirs().flatMap(Probe.files)
      .count(_.lastModified >= start).toLong
    Op(name, module, secs, cpu, l1 - l0, touched, d.rows,
      if (err == null && d.rows >= 0) d.hex else "", err)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = opt("workload")
    if (workload == "inventory") {
      // the registered queries and their modules, for choosing samples
      val inv = SparkEntry.queries.keys.toSeq.sorted.map(q => q -> moduleOf(q))
      writeJson(opt("out"), inv.toMap)
      return
    }
    val work = new File(opt("work")).getAbsolutePath
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = Probe.loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = new Trace(spark, spark.sparkContext.applicationId, traced)

    val w0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).groupBy(col("id") % 7).count().collect()
    val warmS = (System.nanoTime() - w0) / 1e9

    val r = workload match {
      case "geodb_pipeline" =>
        pipeline(spark, trace, work, opt("entities").toLong, cpus)
      case "query_mix" =>
        queries(spark, trace, work, opt("data"), list(opt, "queries"),
          list(opt, "artifact").toSet)
      case "digest" =>
        // digests of saved query results (<data>/<query>/*.parquet), to
        // tie the pins to result sets the DuckDB oracle compare accepted
        Map("ops" -> list(opt, "queries").map { q =>
          opJson(timedOp(q, moduleOf(q))(
            Canon.of(spark.read.parquet(s"${opt("data")}/$q"))))
        })
      case other => sys.error(s"unknown workload $other")
    }

    val counters = trace.counters()
    val spansJson = trace.allSpans.map { s =>
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> trace.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "attrs" -> s.attrs.toMap,
        "counters" -> counters.getOrElse(s.id, Map.empty))
    }
    val out = r ++ Map(
      "workload" -> workload, "run_id" -> trace.runId, "cpus" -> cpus,
      "loadavg_start" -> loadStart, "loadavg_end" -> Probe.loadavg(),
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "peak_rss_kb" -> Probe.peakRssKb(), "spans" -> spansJson)
    writeJson(opt("out"), out)
    spark.stop()
  }

  // ---------------------------------------------------------------------
  // geodb_pipeline: dump -> 9 tables -> 10-stage post -> 3 tables
  // ---------------------------------------------------------------------

  def pipeline(spark: SparkSession, trace: Trace, work: String, n: Long,
      cpus: Int): Map[String, Any] = {
    import spark.implicits._
    val prep = (1 to SetupReps).map { k =>
      val t0 = System.nanoTime()
      spark.range(0, n, 1, cpus).map(i => DumpGen.entityJson(i, n))
        .write.text(s"$work/dump$k")
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupReps).foreach(k => Probe.delete(new File(s"$work/dump$k")))
    val dump = s"$work/dump$SetupReps"
    val tables = s"$work/tables"
    val finals = s"$work/final"
    def rd(name: String) = spark.read.parquet(s"$tables/$name")

    val ops = mutable.ArrayBuffer[Op]()
    def op(name: String, module: String)(body: => Unit): Unit = {
      val o = timedOp(name, module) { body; Canon.Digest(-1, 0) }
      if (o.error != null) throw new RuntimeException(s"$name: ${o.error}")
      ops += o
    }

    val io0 = Probe.writeBytes()
    val t0 = System.nanoTime()
    trace.span("extract") {
      // building the table plans (Dataset analysis) is work of its own
      var t: Extract.Tables = null
      op("ingest.fromDump", "Extract") {
        t = trace.span("extract.fromDump")(
          Extract.fromDump(spark, dump, ClassSets.seedsOnly, pipelineNow))
      }
      Extract.tableMap(t).foreach { case (name, df) =>
        op(s"ingest.$name", "Extract") {
          trace.span(s"extract.$name")(df.write.parquet(s"$tables/$name"))
        }
      }
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    trace.span("post") {
      var enriched: DataFrame = null
      op("post.cascade", "Post") {
        enriched = trace.span("post.cascade") {
          Post.cascade(rd("countries"), rd("object_languages"),
            rd("languages"), rd("territorial_entities"),
            rd("territorial_entities_parents"), rd("cities"),
            rd("cities_countries"), rd("object_labels"))
        }
      }
      trace.span("post.cleanup") {
        // Post.cleanup's eager checkpoint also evaluates cascade stages
        // 9-11, which Post.cascade leaves lazy: they count here.
        var f: Post.FinalTables = null
        op("post.cleanup", "Post") {
          f = Post.cleanup(rd("countries"), rd("object_languages"),
            rd("languages"), rd("object_labels"), enriched)
        }
        op("post.cities", "Post") {
          f.cities.write.partitionBy("country").parquet(s"$finals/cities")
        }
        op("post.cities_labels", "Post") {
          f.citiesLabels.write.parquet(s"$finals/cities_labels")
        }
        op("post.cities_languages", "Post") {
          f.citiesLanguages.write.parquet(s"$finals/cities_languages")
        }
      }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val io1 = Probe.writeBytes()

    // Outputs, read back after the timed region: every table's row count,
    // and the canonical digest of the three final tables.
    val outputs = mutable.LinkedHashMap[String, Any]()
    Seq("countries", "object_languages", "languages", "territorial_entities",
      "territorial_entities_parents", "cities", "cities_countries",
      "object_labels", "missing_p17").foreach { name =>
      outputs(name) = Map("rows" -> rd(name).count())
    }
    Seq("cities", "cities_labels", "cities_languages").foreach { name =>
      val d = Canon.of(spark.read.parquet(s"$finals/$name"))
      outputs(s"final.$name") = Map("rows" -> d.rows, "hash" -> d.hex)
    }

    // Traced runs only: the two layer probes, outside the timed region.
    val layer = mutable.LinkedHashMap[String, Any]()
    if (trace.enabled) {
      val lines = spark.read.text(dump)
      val p0 = System.nanoTime()
      val parsed = trace.span("probe.parse")(Extract.parse(lines).count())
      layer("extract.parse_s") = (System.nanoTime() - p0) / 1e9
      layer("extract.parsed_rows") = parsed
      layer("extract.rejected_rows") = lines.count() - parsed
      val c0 = System.nanoTime()
      val (rows, steps) = trace.span("probe.closure") {
        val cl = Relational.transitiveClosure(
          rd("territorial_entities_parents").select(col("id"), col("parent")),
          rd("cities").select(col("id").as("seed")),
          maxSteps = 100, dedupPerStep = true)
        val row = cl.agg(count(lit(1)), max(col("step"))).head()
        (row.getLong(0), row.getInt(1))
      }
      layer("post.closure_s") = (System.nanoTime() - c0) / 1e9
      layer("post.closure_rows") = rows
      layer("post.closure_steps") = steps
    }
    Map("timed_s" -> timedS, "ingest_s" -> ingestS, "post_s" -> (timedS - ingestS),
      "entities" -> n, "prep_s" -> prep, "input_bytes" -> Probe.bytesUnder(new File(dump)),
      "write_bytes" -> (io1 - io0),
      "ops" -> ops.map(opJson).toSeq, "outputs" -> outputs.toMap,
      "layer" -> layer.toMap)
  }

  // ---------------------------------------------------------------------
  // query_mix: registered queries, in the given order
  // ---------------------------------------------------------------------

  private def list(opt: Map[String, String], key: String): Seq[String] =
    opt.getOrElse(key, "").split(",").filter(_.nonEmpty).toSeq

  def queries(spark: SparkSession, trace: Trace, work: String, data: String,
      names: Seq[String], artifact: Set[String]): Map[String, Any] = {
    val all = SparkEntry.queries
    names.foreach(n => require(all.contains(n), s"unknown query $n"))
    val parquet = Option(new File(data).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parquet.nonEmpty, s"no input tables under $data")
    // Preparation: stage the input tables into the run's own directory,
    // SetupReps times; the last copy is the run's input.
    val prep = (1 to SetupReps).map { k =>
      val t0 = System.nanoTime()
      Probe.copyTree(parquet, new File(s"$work/input$k"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupReps).foreach(k => Probe.delete(new File(s"$work/input$k")))
    val input = s"$work/input$SetupReps"

    val ops = mutable.ArrayBuffer[Op]()
    val (acq0, blk0, _) = Similarity.leaseStatsSnapshot()
    val io0 = Probe.writeBytes()
    val t0 = System.nanoTime()
    names.foreach { name =>
      val module = moduleOf(name)
      val layer = if (artifact(name)) "churn" else "query"
      trace.span(s"$layer.$module", "query" -> name) {
        ops += timedOp(name, module)(Canon.of(all(name)(spark, input)))
      }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val io1 = Probe.writeBytes()
    val (acq1, blk1, _) = Similarity.leaseStatsSnapshot()
    val artifacts = Probe.artifactDirs()
    Map("timed_s" -> timedS, "prep_s" -> prep,
      "input_bytes" -> Probe.bytesUnder(new File(input)),
      "write_bytes" -> (io1 - io0),
      "artifact_bytes" -> artifacts.map(Probe.bytesUnder).sum,
      "lease_acquisitions" -> (acq1 - acq0), "lease_blocked_ms" -> (blk1 - blk0),
      "ops" -> ops.map(opJson).toSeq)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  private def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "module" -> o.module, "seconds" -> o.seconds,
    "cpu_s" -> o.cpuSeconds, "leases" -> o.leases,
    "artifact_writes" -> o.artifactWrites,
    "rows" -> o.rows, "hash" -> o.hash, "error" -> o.error)
}

/** Host and process readings: /proc files and the run's directories. */
object Probe {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(",")
    catch { case _: java.io.IOException => "" }

  private def procField(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().collectFirst {
        case l if l.startsWith(key) => l.drop(key.length).trim.split("\\s+")(0).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  /** Bytes this process caused to be sent to storage so far. */
  def writeBytes(): Long = procField("/proc/self/io", "write_bytes:")

  /** CPU time of this process (all threads) so far, in ns. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set size of this process, in KiB. */
  def peakRssKb(): Long = procField("/proc/self/status", "VmHWM:")

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  def bytesUnder(f: File): Long = files(f).map(_.length).sum

  /** The program's persisted-artifact dirs: `java.io.tmpdir/graft_*`. */
  def artifactDirs(): Seq[File] =
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def copyTree(src: Seq[File], dst: File): Unit = {
    dst.mkdirs()
    src.foreach { s =>
      val d = new File(dst, s.getName)
      if (s.isDirectory) copyTree(Option(s.listFiles()).toSeq.flatten, d)
      else Files.copy(s.toPath, d.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

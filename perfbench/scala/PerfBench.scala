package org.apache.spark.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver: executes one workload's generated operations against
  * the program's public entry points and writes raw timings and results as
  * JSON. Operation generation, the correctness model and the metric
  * arithmetic live in the benchmark's Python modules; this process only
  * runs what it is given, one operation at a time (a closed loop, one
  * client thread).
  *
  * It sits in the `org.apache.spark` namespace only to drain the listener
  * bus (`SparkContext.listenerBus` is `private[spark]`) before reading
  * listener counters, so counts are exact rather than racing the bus.
  *
  * Usage: PerfBench <config.json>; see perfbench/run.py for the keys.
  */
object PerfBench {
  private val mapper = new ObjectMapper()

  final case class Span(id: String, parent: String, layer: String,
      name: String, startMs: Double, endMs: Double)

  /** Wall-clock milliseconds with sub-ms resolution, on the same clock the
    * Spark listener events use (epoch ms), so operation spans and job
    * spans line up.
    */
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val heap = new HeapWatch
    val cores = Runtime.getRuntime.availableProcessors()
    val work = cfg.get("work").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft_fns",
        "graft.sources.GraftFunctionCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val trace = cfg.get("trace").asBoolean()
    val out = mapper.createObjectNode()
    out.put("cores", cores)
    out.put("session_start_s", sessionStartS)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val workload = cfg.get("workload").asText() match {
      case "pot-parity"   => new PotParity(spark, cfg)
      case "bucketed-sql" => new BucketedSql(spark, cfg)
      case "query-mix"    => new QueryMix(spark, cfg)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val builds = out.putArray("build_s")
    (0 until cfg.get("setup_reps").asInt()).foreach { rep =>
      val t0 = System.nanoTime()
      workload.build(rep)
      builds.add((System.nanoTime() - t0) / 1e9)
    }
    val ops = readOps(cfg.get("ops").asText())
    val records = out.putArray("ops")
    val w0 = System.nanoTime()
    workload.warmup(ops.take(cfg.get("warmup_ops").asInt()), records, tracer)
    out.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    heap.sample()

    tracer.foreach(_.begin())
    val gc0 = gcMs()
    val l0 = System.nanoTime()
    val n = workload.loop(ops.drop(cfg.get("warmup_ops").asInt()),
      cfg.get("seconds").asDouble(), cfg.get("unit_ops").asInt(),
      cfg.get("min_units").asInt(), records, tracer)
    out.put("loop_s", (System.nanoTime() - l0) / 1e9)
    out.put("gc_ms", gcMs() - gc0)
    heap.sample()
    tracer.foreach(t => out.set[JsonNode]("layers", t.end(n)))
    out.put("heap_live_peak_mb", heap.peakMb)
    workload.finish(out)
    tracer.foreach(_.writeSpans(cfg.get("spans").asText()))
    Files.writeString(Paths.get(cfg.get("out").asText()),
      mapper.writeValueAsString(out))
    spark.stop()
  }

  def readOps(path: String): IndexedSeq[JsonNode] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.nonEmpty).map(l => mapper.readTree(l)).toIndexedSeq

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def drainBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Largest live heap, sampled after warm-up and after the loop. Each
    * sample repeats a full collection and a pause for Spark's
    * ContextCleaner (which drops the broadcast and shuffle blocks a
    * collection made unreachable) until the heap stops shrinking; a single
    * collection left those blocks in, and the figure moved with the
    * cleaner's timing.
    */
  final class HeapWatch {
    private var peak = 0L
    private def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    def sample(): Unit = {
      System.gc()
      var last = used
      var settled = false
      var tries = 0
      while (!settled && tries < 5) {
        Thread.sleep(150)
        System.gc()
        settled = used > last - (1L << 20)
        last = math.min(last, used)
        tries += 1
      }
      peak = math.max(peak, last)
    }
    def peakMb: Double = peak / 1048576.0
  }

  /** Operation record shared by all workloads. */
  def record(records: ArrayNode, i: Int, op: JsonNode, warm: Boolean,
      ms: Double, outcome: String, result: JsonNode): Unit = {
    val r = records.addObject()
    r.put("i", i)
    r.put("kind", op.get("kind").asText())
    r.put("class", op.get("class").asText())
    r.put("warm", warm)
    r.put("ms", ms)
    r.put("outcome", outcome)
    if (result != null) r.set[JsonNode]("result", result)
  }

  /** Run one operation: optional job group + spans around the layer call. */
  def timed[A](spark: SparkSession, tracer: Option[Tracer], i: Int,
      op: JsonNode, layer: String)(call: => A): (Double, Either[Throwable, A]) = {
    tracer.foreach(_ => spark.sparkContext.setJobGroup(s"pb-op-$i",
      op.get("kind").asText(), interruptOnCancel = false))
    val s0 = nowMs
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val s1 = nowMs
    tracer.foreach { t =>
      spark.sparkContext.clearJobGroup()
      t.span(Span(s"op-$i", "", "bench", op.get("kind").asText(), s0, s1))
      t.span(Span(s"call-$i", s"op-$i", layer,
        s"$layer.${op.get("kind").asText()}", s0, s1))
    }
    (ms, res)
  }

  def errText(e: Throwable): String =
    s"error: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .take(300)

  abstract class Workload {
    def build(rep: Int): Unit
    def run(i: Int, op: JsonNode, warm: Boolean, records: ArrayNode,
        tracer: Option[Tracer]): Unit
    def isRead(op: JsonNode): Boolean = op.get("class").asText() == "read"
    def warmup(ops: Seq[JsonNode], records: ArrayNode,
        tracer: Option[Tracer]): Unit =
      ops.zipWithIndex.foreach { case (op, i) => run(i, op, true, records, None) }
    /** Closed loop: run operations until `seconds` have passed and at
      * least `minUnits` whole units of `unit` operations ran (so each run
      * holds the generator's exact mix); returns the operations run.
      */
    def loop(ops: Seq[JsonNode], seconds: Double, unit: Int, minUnits: Int,
        records: ArrayNode, tracer: Option[Tracer]): Int = {
      val base = records.size()
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (i < ops.length &&
          (elapsed < seconds || i < minUnits * unit || i % unit != 0)) {
        run(base + i, ops(i), false, records, tracer)
        i += 1
      }
      i
    }
    def finish(out: ObjectNode): Unit
  }

  /** pot-parity: the reference's traffic through [[graft.kv.PotClient]]. */
  final class PotParity(spark: SparkSession, cfg: JsonNode) extends Workload {
    import spark.implicits._
    private val leaseMs = cfg.get("lease_ms").asLong()
    private val initial = readOps(cfg.get("initial").asText())
    private var root = ""
    private var owner: graft.kv.PotClient = _
    private var other: graft.kv.PotClient = _
    private val cols = Seq("key", "name", "nation", "bal", "seg", "v")

    private def docs(a: JsonNode): DataFrame =
      a.elements().asScala.map { d =>
        (d.get(0).asText(), d.get(1).asText(), d.get(2).asLong(),
          d.get(3).asLong(), d.get(4).asText(), d.get(5).asLong())
      }.toSeq.toDF(cols: _*)

    def build(rep: Int): Unit = {
      root = s"${cfg.get("work").asText()}/pot/r$rep"
      owner = graft.kv.PotClient(spark, root, leaseMs)
      other = graft.kv.PotClient(spark, root, leaseMs)
      initial.foreach(p => owner.create(p.get("path").asText(), docs(p.get("docs"))))
    }

    private def digest(rows: Array[Row]): String = {
      val lines = rows.map(r => cols.map(c => String.valueOf(r.getAs[Any](c)))
        .mkString("\t")).sorted.mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    def run(i: Int, op: JsonNode, warm: Boolean, records: ArrayNode,
        tracer: Option[Tracer]): Unit = {
      val kind = op.get("kind").asText()
      val path = Option(op.get("path")).map(_.asText()).orNull
      val input = Option(op.get("docs")).map(docs).orNull
      val (ms, res) = timed(spark, tracer, i, op, "kv") {
        kind match {
          case "get"    => Left(owner.get(path).collect())
          case "list"   => Right(graft.kv.PotTable.listPaths(spark, root).mkString(","))
          case "upsert" => Right(owner.upsert(path, input).toString)
          case "remove" => Right(owner.remove(path,
            op.get("keys").elements().asScala.map(_.asText()).toSeq).toString)
          case "create" =>
            val c = if (op.get("client").asText() == "owner") owner else other
            Right(c.create(path, input).toString)
        }
      }
      res match {
        case Right(Left(rows)) =>
          record(records, i, op, warm, ms, "ok", mapper.getNodeFactory.textNode(digest(rows)))
        case Right(Right(s)) =>
          record(records, i, op, warm, ms, "ok", mapper.getNodeFactory.textNode(s))
        case Left(e: graft.kv.PotTable.CommitConflict) =>
          record(records, i, op, warm, ms, "refused", null)
        case Left(e) => record(records, i, op, warm, ms, errText(e), null)
      }
    }

    def finish(out: ObjectNode): Unit = {
      val fin = out.putObject("final")
      graft.kv.PotTable.listPaths(spark, root).foreach { p =>
        fin.put(p, digest(owner.get(p).collect()))
      }
      out.put("store_root", root)
    }
  }

  /** bucketed-sql: SQL on the `graft_fns.store` catalog. */
  final class BucketedSql(spark: SparkSession, cfg: JsonNode) extends Workload {
    private var root = ""
    def build(rep: Int): Unit = {
      root = s"${cfg.get("work").asText()}/store/r$rep"
      spark.read.parquet(cfg.get("initial").asText())
        .write.format("graft.sources.BucketedPotV2Source")
        .option("path", root).option("buckets", cfg.get("buckets").asText())
        .mode("append").save()
    }
    private def table = s"graft_fns.store.`$root`"

    def run(i: Int, op: JsonNode, warm: Boolean, records: ArrayNode,
        tracer: Option[Tracer]): Unit = {
      val sql = op.get("sql").asText().replace("{T}", table)
        .replace("{ROOT}", root)
      val (ms, res) = timed(spark, tracer, i, op, "sources") {
        spark.sql(sql).collect()
      }
      res match {
        case Right(rows) =>
          val a = mapper.createArrayNode()
          if (isRead(op)) rows.foreach { r =>
            val ra = a.addArray()
            (0 until r.length).foreach(j =>
              if (r.isNullAt(j)) ra.addNull() else ra.add(String.valueOf(r.get(j))))
          }
          record(records, i, op, warm, ms, "ok", a)
        case Left(e) => record(records, i, op, warm, ms, errText(e), null)
      }
    }

    def finish(out: ObjectNode): Unit = {
      val w = new PrintWriter(cfg.get("final").asText(), "UTF-8")
      try spark.sql(s"SELECT key, doc_json FROM $table").collect()
        .foreach(r => w.println(s"${r.getString(0)}\t${r.getString(1)}"))
      finally w.close()
      out.put("store_root", root)
    }
  }

  /** query-mix: a fixed list of `SparkEntry` queries to a `noop` sink. */
  final class QueryMix(spark: SparkSession, cfg: JsonNode) extends Workload {
    private val data = cfg.get("data").asText()
    private val names = cfg.get("queries").elements().asScala.map(_.asText()).toIndexedSeq

    /** Resolve every table's file listing and schema. */
    def build(rep: Int): Unit =
      graft.Tables.names.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

    private def layer(name: String) =
      if (name.startsWith("st")) "streaming" else "operators"

    /** Warm-up = one pass writing each result to parquet for the oracle
      * check (the same dump `graft.Verify` makes).
      */
    override def warmup(ops: Seq[JsonNode], records: ArrayNode,
        tracer: Option[Tracer]): Unit = {
      val dir = cfg.get("verify").asText()
      names.zipWithIndex.foreach { case (q, i) =>
        val t0 = System.nanoTime()
        val outcome = try {
          graft.SparkEntry.queries(q)(spark, data).coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/$q")
          "ok"
        } catch { case e: Throwable => errText(e) }
        val r = records.addObject()
        r.put("i", i); r.put("kind", q); r.put("class", "read")
        r.put("warm", true); r.put("ms", (System.nanoTime() - t0) / 1e6)
        r.put("outcome", outcome)
      }
      val oracle = mapper.createObjectNode()
      names.foreach(q => oracle.put(q, graft.SparkEntry.oracleSql(q)))
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
        mapper.writeValueAsString(oracle))
    }

    def run(i: Int, op: JsonNode, warm: Boolean, records: ArrayNode,
        tracer: Option[Tracer]): Unit = {
      val q = op.get("kind").asText()
      val (ms, res) = timed(spark, tracer, i, op, layer(q)) {
        graft.SparkEntry.queries(q)(spark, data)
          .write.format("noop").mode("overwrite").save()
      }
      record(records, i, op, warm, ms,
        res.fold(errText, _ => "ok"), null)
    }

    /** The unit is one pass over the list. */
    override def loop(ops: Seq[JsonNode], seconds: Double, unit: Int,
        minUnits: Int, records: ArrayNode, tracer: Option[Tracer]): Int = {
      val pass = names.map(q =>
        mapper.createObjectNode().put("kind", q).put("class", "read"))
      super.loop(Iterator.continually(pass).take(1000).flatten.toIndexedSeq,
        seconds, unit, minUnits, records, tracer)
    }

    def finish(out: ObjectNode): Unit = {
      val t0 = System.nanoTime()
      if (cfg.get("trace").asBoolean())
        graft.streaming.StreamingQueries.machineryProbe(spark, data)
      out.put("machinery_s", (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Per-layer instruments for the traced run: Spark job/stage/task
    * listener, query-execution listener (planning phases, scan custom
    * metrics), streaming listener, `graft.Metrics`, Hadoop FileSystem
    * statistics. Spans stay in memory until [[writeSpans]].
    */
  final class Tracer(spark: SparkSession) {
    private val spans = new ConcurrentLinkedQueue[Span]()
    def span(s: Span): Unit = spans.add(s)

    private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    private def add(k: String, v: Double): Unit = c.merge(k, v, _ + _)
    @volatile private var on = false

    private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobGroup.put(e.jobId, g)
        jobStart.put(e.jobId, e.time.toDouble)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        if (on) { add("jobs", 1); add("stages", e.stageIds.size) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val g = jobGroup.getOrDefault(e.jobId, "")
        if (on && g.startsWith("pb-op-")) span(Span(s"job-${e.jobId}",
          "call-" + g.stripPrefix("pb-op-"), "spark",
          "job", jobStart.getOrDefault(e.jobId, e.time.toDouble), e.time.toDouble))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (on) for (s <- si.submissionTime; f <- si.completionTime)
          span(Span(s"stage-${si.stageId}.${si.attemptNumber()}",
            s"job-${stageJob.getOrDefault(si.stageId, -1)}", "spark", "stage",
            s.toDouble, f.toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (on && e.taskMetrics != null) {
          val m = e.taskMetrics
          add("tasks", 1)
          add("executor_run_ms", m.executorRunTime.toDouble)
          add("executor_cpu_ms", m.executorCpuTime / 1e6)
          add("task_gc_ms", m.jvmGCTime.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (on) {
          add("queries", 1)
          qe.tracker.phases.foreach { case (phase, s) =>
            add(s"phase_${phase}_ms", s.durationMs.toDouble) }
          walk(qe.executedPlan).foreach { p =>
            p.metrics.foreach { case (k, m) =>
              if (k == "docSkippedEntries" || k == "statsOnlyAggObjects")
                add(k, m.value.toDouble)
            }
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (on) add("query_failures", 1)
    })

    private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on) add("stream_batches", 1)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    private val graftMetrics = graft.Metrics.install(spark)
    private var graft0: Map[String, Long] = Map.empty

    /** Hadoop's byte statistics plus the call counts of
      * [[CountingLocalFileSystem]] (the local file system keeps no
      * operation counts of its own).
      */
    private def fsStats: Map[String, Long] = {
      val all = FileSystem.getAllStatistics.asScala
      CountingLocalFileSystem.snapshot ++ Map(
        "bytes_read" -> all.map(_.getBytesRead).sum,
        "bytes_written" -> all.map(_.getBytesWritten).sum)
    }
    private var fs0: Map[String, Long] = Map.empty

    def begin(): Unit = {
      drainBus(spark)
      graft0 = graftMetrics.snapshot
      fs0 = fsStats
      on = true
    }

    def end(ops: Int): ObjectNode = {
      drainBus(spark)
      on = false
      val o = mapper.createObjectNode()
      o.put("ops", ops)
      c.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      val g = graftMetrics.snapshot
      g.keys.toSeq.sorted.foreach(k => o.put(s"graft.$k", g(k) - graft0.getOrElse(k, 0L)))
      val f = fsStats
      f.keys.toSeq.sorted.foreach(k => o.put(s"fs.$k", f(k) - fs0.getOrElse(k, 0L)))
      o
    }

    def writeSpans(path: String): Unit = {
      drainBus(spark)
      val w = new PrintWriter(path, "UTF-8")
      try spans.asScala.foreach { s =>
        val n = mapper.createObjectNode()
        n.put("id", s.id); n.put("parent", s.parent); n.put("layer", s.layer)
        n.put("name", s.name); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
        w.println(mapper.writeValueAsString(n))
      } finally w.close()
    }
  }
}

/** `LocalFileSystem` that counts its calls by kind. Traced runs put it in
  * place with `fs.file.impl` (see trace-conf/core-site.xml), which reaches
  * every `Configuration`, the program's own `new Configuration()` included.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFileSystem.count

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("status"); super.getFileStatus(f)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  def count(kind: String): Unit =
    counts.computeIfAbsent(kind, _ => new java.util.concurrent.atomic.LongAdder).increment()
  def snapshot: Map[String, Long] =
    Seq("open", "create", "list", "status", "delete", "rename", "mkdirs")
      .map(k => k -> Option(counts.get(k)).map(_.sum()).getOrElse(0L)).toMap
}

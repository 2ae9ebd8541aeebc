package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Bench, GraftSession, LakeSql, Sql}
import graft.operators.{Dedup, Discovery, DupClusters, Similarity, TextOps}
import graft.sources.{DeltaLite, HudiLite, IcebergLite}

/** Executes one generated operation list against the engine's public
  * entry points and writes what happened to a JSON file.
  *
  * The list is produced by `workloads.py` from (workload, seed, run
  * length); this program only runs it. Operations come in phases:
  * `setup` (lake seeding), `warm` (untimed warm-up on other parameters),
  * `run` (the timed closed loop: one client, the next operation only
  * after the previous one returned) and `final` (untimed end-state reads
  * for the correctness check).
  *
  * Usage: Main <ops.jsonl> <out.json> <data-dir> <sentinel-dir> <cores>
  *             <trace 0|1>
  */
object Main {
  private val Json = new ObjectMapper()
  private val JF = JsonNodeFactory.instance

  private def nowMs: Double = System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    val Array(opsFile, outFile, dataDir, sentinelDir, coresS, traceS) = args
    val cores = coresS.toInt
    val tracing = traceS == "1"
    // JVM start, on the nanoTime clock
    val jvmStartMs = nowMs -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime)

    val t0 = nowMs
    val spark = GraftSession
      .builder(s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (tracing) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val buildS = (nowMs - t0) / 1e3

    val t1 = nowMs
    Sql.open(spark, dataDir)
    val openS = (nowMs - t1) / 1e3

    val lines = Files.readAllLines(Paths.get(opsFile)).asScala
      .filter(_.nonEmpty).map(Json.readTree).toSeq
    val header = lines.head
    val ops = lines.tail
    val tables: Map[String, (String, String)] =
      header.path("tables").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
      }.toMap
    val runner = new Runner(spark, dataDir, tables, tracing)
    def phase(p: String) = ops.filter(_.get("phase").asText() == p)

    val t2 = nowMs
    phase("setup").foreach(runner.runUntimed)
    val seedS = (nowMs - t2) / 1e3
    val t3 = nowMs
    phase("warm").foreach(runner.runUntimed)
    val warmS = (nowMs - t3) / 1e3
    val setupS = (nowMs - jvmStartMs) / 1e3

    // The host sentinels cost ~5 s a run, so only the traced run takes them.
    def sentinels() =
      if (tracing) (Bench.sentinelOnce(spark, cores), Bench.sentinelIoOnce(spark, sentinelDir))
      else (0.0, 0.0)
    val (sentinelCpu, sentinelIo) = sentinels()
    val lakeBytesStart = runner.lakeBytes()

    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val timed = phase("run")
    val loopStart = nowMs
    val loopStartEpoch = System.currentTimeMillis().toDouble
    val results = timed.zipWithIndex.map { case (op, i) => runner.runTimed(op, i) }
    val loopMs = nowMs - loopStart
    val gc = gcMs() - gcBefore
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val loopEndEpoch = System.currentTimeMillis().toDouble
    val (sentinelCpuEnd, sentinelIoEnd) = sentinels()
    val finals = phase("final").zipWithIndex.map { case (op, j) =>
      runner.runTimed(op, -1 - j)
    }
    val lakeBytesEnd = runner.lakeBytes()

    val out = Json.createObjectNode()
    out.put("setup_s", setupS)
    out.put("loop_ms", loopMs)
    out.put("rss_peak_mb", rssPeakMb())
    val session = out.putObject("session")
    session.put("build_s", buildS)
    session.put("open_s", openS)
    session.put("seed_s", seedS)
    session.put("warmup_s", warmS)
    val host = out.putObject("host")
    host.put("cpu_sentinel_s", sentinelCpu)
    host.put("cpu_sentinel_end_s", sentinelCpuEnd)
    host.put("io_sentinel_s", sentinelIo)
    host.put("io_sentinel_end_s", sentinelIoEnd)
    val jvm = out.putObject("jvm")
    jvm.put("gc_ms", gc)
    jvm.put("heap_peak_mb", heapPeakMb)
    out.put("lake_bytes_start", lakeBytesStart)
    out.put("lake_bytes_end", lakeBytesEnd)
    val arr = out.putArray("ops")
    (results ++ finals).foreach(r => arr.add(r.toJson))
    listener.foreach { l =>
      l.drain()
      out.set[JsonNode]("trace",
        runner.traceJson(l, results, loopMs, cores,
          (loopStartEpoch, loopEndEpoch)))
    }
    Files.write(Paths.get(outFile), Json.writeValueAsBytes(out))
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def rssPeakMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  /** One operation's outcome: latency, error, result rows, spans. */
  final case class OpResult(id: Long, op: JsonNode, ms: Double,
      error: Option[String], rows: Option[Array[Row]], spans: Seq[Span],
      lake: Option[LakeDelta]) {
    def toJson: ObjectNode = {
      val o = JF.objectNode()
      o.put("id", id)
      o.put("ms", ms)
      error.foreach(o.put("error", _))
      rows.foreach { rs =>
        val a = o.putArray("rows")
        rs.foreach(r => a.add(rowJson(r)))
      }
      o
    }
  }

  final case class LakeDelta(added: Int, removed: Int, commits: Long,
      bytes: Long)

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Engine-neutral JSON for a result value; `check.py` normalizes
    * DuckDB's values to the same shapes.
    */
  def valueJson(v: Any): JsonNode = v match {
    case null => JF.nullNode()
    case b: Boolean => JF.booleanNode(b)
    case n: Byte => JF.numberNode(n.toLong)
    case n: Short => JF.numberNode(n.toLong)
    case n: Int => JF.numberNode(n.toLong)
    case n: Long => JF.numberNode(n)
    case n: Float => JF.numberNode(n.toDouble)
    case n: Double => JF.numberNode(n)
    case d: java.math.BigDecimal => JF.numberNode(d.doubleValue)
    case d: scala.math.BigDecimal => JF.numberNode(d.toDouble)
    case s: String => JF.textNode(s)
    case t: java.sql.Timestamp => JF.textNode(t.toLocalDateTime.format(TsFmt))
    case t: java.time.LocalDateTime => JF.textNode(t.format(TsFmt))
    case t: java.time.Instant =>
      JF.textNode(t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(TsFmt))
    case d: java.sql.Date => JF.textNode(d.toLocalDate.toString)
    case d: java.time.LocalDate => JF.textNode(d.toString)
    case r: Row => rowJson(r)
    case m: scala.collection.Map[_, _] =>
      val o = JF.objectNode()
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1)
        .foreach { case (k, x) => o.set[JsonNode](k, valueJson(x)) }
      o
    case s: scala.collection.Seq[_] =>
      val a = JF.arrayNode()
      s.foreach(x => a.add(valueJson(x)))
      a
    case b: Array[Byte] => JF.textNode(b.map("%02x".format(_)).mkString)
    case other => JF.textNode(other.toString)
  }

  def rowJson(r: Row): ArrayNode = {
    val a = JF.arrayNode()
    (0 until r.length).foreach(i => a.add(valueJson(r.get(i))))
    a
  }
}

/** Dispatch of one operation to the layer it names, with a span around
  * every call into the engine.
  */
final class Runner(spark: SparkSession, dataDir: String,
    tables: Map[String, (String, String)], tracing: Boolean) {
  import Main.{LakeDelta, OpResult}

  private def nowMs: Double = System.nanoTime() / 1e6
  // Span clock: epoch milliseconds (comparable with listener event times)
  // at nanoTime resolution.
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def epochMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var cur = mutable.Buffer.empty[Span]

  private def span[T](layer: String)(body: => T): T = {
    val s = epochMs
    try body finally cur += Span(layer, s, epochMs)
  }

  private def collectQuery(df: DataFrame): Array[Row] = {
    span("planner")(df.queryExecution.executedPlan)
    span("exec")(df.collect())
  }

  private def docs(op: JsonNode): DataFrame =
    graft.Tables.documents(spark, dataDir)
      .where(col("doc_id").between(op.get("lo").asLong, op.get("hi").asLong))

  private def vectors(ids: JsonNode): DataFrame = {
    val keep = ids.elements().asScala.map(_.asLong).toSeq
    Similarity.prepared(graft.Tables.embeddings(spark, dataDir)
      .where(col("vec_id").isin(keep: _*)), "vec_id", "embedding")
  }

  private def corpus(op: JsonNode): DataFrame =
    Similarity.prepared(graft.Tables.embeddings(spark, dataDir)
      .where(col("vec_id") < op.get("corpus").asLong), "vec_id", "embedding")

  /** The operator's result DataFrame (some operators run jobs while
    * building it).
    */
  private def operator(op: JsonNode): DataFrame = {
    val k = op.path("k").asInt(10)
    op.get("op").asText() match {
      case "clean" =>
        TextOps.cleanPipeline(docs(op), minWords = op.get("min_words").asInt,
          minStopHits = op.get("min_stops").asInt)
          .select("doc_id", "n_pii", "clean_text")
      case "jaccard" => Dedup.ngramJaccard(docs(op))
      case "components" =>
        val edges = spark.read.parquet(s"$dataDir/edges.parquet")
          .where(col("batch").between(op.get("batches").get(0).asInt,
            op.get("batches").get(1).asInt)).select("a", "b")
        DupClusters.connectedComponentsStar(edges)
      case "topk_brute" =>
        Similarity.bruteForceTopK(corpus(op),
          Similarity.asQueries(vectors(op.get("queries"))), k)
      case "topk_lsh" =>
        Similarity.lshTopK(corpus(op),
          Similarity.asQueries(vectors(op.get("queries"))), k)
      case "topk_ivf" =>
        Similarity.ivfTopK(corpus(op),
          Similarity.asQueries(vectors(op.get("queries"))), k)
      case "sketches" =>
        val cands = op.get("columns").elements().asScala.map { c =>
          (c.get(0).asText(), c.get(1).asText())
        }.toSeq
        Discovery.columnSketches(Discovery.columnValues(spark, dataDir, cands))
      case other => throw new IllegalArgumentException(s"unknown operator $other")
    }
  }

  private def path(table: String): String = tables(table)._2

  /** Run the operation; result rows for reads, None for writes. */
  private def dispatch(op: JsonNode): Option[Array[Row]] = {
    def sql = op.get("sql").asText()
    op.get("kind").asText() match {
      case "lakesql" if op.path("read").asBoolean(false) =>
        Some(collectQuery(span("lakesql")(LakeSql.sql(spark, sql))))
      case "lakesql" =>
        // A statement that writes a lake table runs eagerly inside
        // LakeSql.sql; the call is the format's rewrite and commit.
        span(op.path("layer").asText("lakesql"))(LakeSql.sql(spark, sql))
        None
      case "hudi_create" =>
        span("sources")(HudiLite.create(spark, path(op.get("table").asText()),
          Sql.run(spark, dataDir, sql), op.get("key").asText(),
          HudiLite.MergeOnRead))
        None
      case "hudi_upsert" =>
        span("sources")(HudiLite.upsert(spark, path(op.get("table").asText()),
          Sql.run(spark, dataDir, sql)))
        None
      case "hudi_compact" =>
        span("sources")(HudiLite.compact(spark, path(op.get("table").asText())))
        None
      case "hudi_read" =>
        val t = op.get("table").asText()
        span("sources")(HudiLite.snapshot(spark, path(t))
          .createOrReplaceTempView(t))
        Some(collectQuery(span("planner")(spark.sql(sql))))
      case "op" =>
        // the operator's span covers its result's planning and execution
        Some(span("operators")(collectQuery(operator(op))))
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }
  }

  def runUntimed(op: JsonNode): Unit = {
    cur = mutable.Buffer.empty[Span]
    dispatch(op)
  }

  // ---- traced-only lake accounting, outside every op's span

  private def liveFiles(table: String): Set[String] = {
    val (fmt, p) = tables(table)
    fmt match {
      case "delta" => DeltaLite.liveFiles(spark, p).toSet
      case "iceberg" => IcebergLite.dataFiles(spark, p).toSet
      case _ =>
        val (bases, logs) = HudiLite.currentFiles(spark, p)
        (bases ++ logs).toSet
    }
  }

  private def commitsOf(table: String): Long = {
    val (fmt, p) = tables(table)
    fmt match {
      case "delta" => DeltaLite.latestVersion(spark, p)
      case "iceberg" => IcebergLite.snapshots(spark, p).size.toLong
      case _ => HudiLite.completedInstants(spark, p).size.toLong
    }
  }

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally st.close()
    }
  }

  def lakeBytes(): Long = tables.values.map(t => dirBytes(t._2)).sum

  /** Samples of the public snapshot call per format (log or manifest
    * replay), taken between timed operations as history grows.
    */
  private val replaySamples = mutable.Buffer.empty[Double]
  private var tracingWorkMs = 0.0

  private def sampleReplay(): Unit = tables.foreach { case (_, (fmt, p)) =>
    val s = nowMs
    fmt match {
      case "delta" => DeltaLite.snapshot(spark, p)
      case "iceberg" => IcebergLite.snapshot(spark, p)
      case _ => HudiLite.snapshot(spark, p)
    }
    replaySamples += nowMs - s
  }

  def runTimed(op: JsonNode, index: Int): OpResult = {
    val id = op.get("id").asLong
    val target = Option(op.get("target")).map(_.asText())
      .filter(_ => tracing && index >= 0)
    val tw = nowMs
    val before = target.map(t => (liveFiles(t), commitsOf(t), dirBytes(path(t))))
    if (tracing && index >= 0) {
      spark.sparkContext.setJobGroup(id.toString, "perfbench op", false)
      if (tables.nonEmpty && index % 10 == 0) sampleReplay()
    }
    tracingWorkMs += nowMs - tw
    cur = mutable.Buffer.empty[Span]
    val start = epochMs
    val s = nowMs
    val (rows, err) =
      try (dispatch(op), None)
      catch { case NonFatal(e) =>
        (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
      }
    val ms = nowMs - s
    cur += Span("op", start, start + ms)
    val tw2 = nowMs
    if (tracing) spark.sparkContext.clearJobGroup()
    val delta = target.zip(before).map { case (t, (files0, c0, b0)) =>
      val files1 = liveFiles(t)
      LakeDelta((files1 -- files0).size, (files0 -- files1).size,
        commitsOf(t) - c0, dirBytes(path(t)) - b0)
    }
    tracingWorkMs += nowMs - tw2
    OpResult(id, op, ms, err, rows, cur.toSeq, delta)
  }

  // ---- per-layer figures of the traced run

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }

  def traceJson(l: JobListener, rs: Seq[OpResult], loopMs: Double,
      cores: Int, loop: (Double, Double)): ObjectNode = {
    val o = JsonNodeFactory.instance.objectNode()
    val totalMs = rs.map(_.ms).sum
    def layerMs(r: OpResult, layer: String) =
      r.spans.filter(_.layer == layer).map(_.ms).sum
    def share(layer: String) =
      if (totalMs <= 0) 0.0 else rs.map(layerMs(_, layer)).sum / totalMs
    def callP50(layer: String) =
      p50(rs.filter(_.spans.exists(_.layer == layer)).map(layerMs(_, layer)))

    o.put("lakesql.call_ms_p50", callP50("lakesql"))
    o.put("lakesql.share", share("lakesql"))
    o.put("planner.ms_p50", callP50("planner"))
    o.put("planner.share", share("planner"))
    o.put("exec.ms_p50", callP50("exec"))
    o.put("exec.share", share("exec"))
    o.put("lake.share", share("sources"))
    o.put("ops.share", share("operators"))

    val n = math.max(1, rs.size).toDouble
    val jobsBy = rs.map(r => r -> l.jobsOf(r.id.toString))
    def perOp(f: JobRec => Double) = jobsBy.map(_._2.map(f).sum).sum / n
    o.put("exec.jobs", perOp(_ => 1.0))
    o.put("exec.stages", perOp(_.stages.toDouble))
    o.put("exec.tasks", perOp(_.tasks.toDouble))
    o.put("exec.failed_tasks", perOp(_.failedTasks.toDouble))
    o.put("exec.shuffle_bytes", perOp(_.shuffleBytes.toDouble))
    o.put("exec.input_bytes", perOp(_.inputBytes.toDouble))
    val busyMs = jobsBy.map(_._2.map(_.busyMs).sum).sum
    o.put("exec.task_busy_s", busyMs / n / 1e3)
    o.put("exec.task_wait_ms", perOp(_.waitMs))
    o.put("exec.driver_gap_ms", jobsBy.map { case (r, js) =>
      val iv = js.map(j => (j.startMs, j.endMs)).filter(!_._2.isNaN)
      r.spans.filter(_.layer == "exec")
        .map(sp => sp.ms - Trace.covered(iv, sp.startMs, sp.endMs)).sum
    }.sum / n)
    o.put("exec.core_util", if (totalMs <= 0) 0.0 else busyMs / (cores * totalMs))
    val known = rs.map(_.id.toString).toSet
    o.put("exec.unattributed_jobs", l.unattributed(known, loop).toDouble)

    val lake = rs.flatMap(_.lake)
    o.put("lake.files_added", lake.map(_.added).sum.toDouble)
    o.put("lake.files_removed", lake.map(_.removed).sum.toDouble)
    o.put("lake.commits", lake.map(_.commits).sum.toDouble)
    o.put("lake.bytes_written", lake.map(_.bytes).sum.toDouble)
    o.put("lake.replay_ms", p50(replaySamples.toSeq))
    o.put("lake.live_files",
      tables.keys.toSeq.map(t => liveFiles(t).size).sum.toDouble)

    o.put("trace.overhead", if (loopMs <= 0) 1.0 else loopMs / (loopMs - tracingWorkMs))
    o
  }
}

package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

object Json {
  val mapper = new ObjectMapper()
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

/** Benchmark JVM. Reads the plan perfbench/run.py wrote (workload,
  * op schedule, inputs), runs set-up, the untimed warm-up and the timed
  * passes, and writes raw records: per-op timings and digests, spans,
  * and listener events. It computes no statistics and judges no output;
  * perfbench/run.py does both.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  */
object Main {
  def session(nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sql("SELECT 1").collect()
    s
  }

  def main(args: Array[String]): Unit = {
    val plan = Json.mapper.readTree(Paths.get(args(0)).toFile)
    val out = Json.mapper.createObjectNode()
    val nproc = plan.get("nproc").asInt
    val traced = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble

    // set-up, part 1: SparkSession start, repeated; the last one stays
    val sessionMs = out.putArray("session_ms")
    var spark: SparkSession = null
    for (i <- 1 to plan.get("session_reps").asInt) {
      if (spark != null) spark.stop()
      val t0 = Clock.nowMs()
      spark = session(nproc)
      sessionMs.add(Clock.nowMs() - t0)
    }
    val listeners = new Listeners
    if (traced) {
      spark.sparkContext.addSparkListener(listeners.spark)
      spark.listenerManager.register(listeners.plan)
      spark.streams.addListener(listeners.streaming)
    }
    val workload: Workload = plan.get("kind").asText match {
      case "catalog" => new CatalogWorkload(spark, plan)
      case "etl" => new EtlWorkload(spark, plan)
    }
    val ops = out.putArray("ops")
    val quiet = new Spans(enabled = false)
    // set-up, part 2: stage inputs the workload reads
    out.put("stage_ms", quiet("stage", "")(workload.stage())._2)
    // set-up, part 3: untimed warm-up over the workload's own ops
    out.put("warmup_ms", quiet("warmup", "") {
      Json.strings(plan.get("warmup")).zipWithIndex.foreach { case (name, i) =>
        ops.add(workload.op(s"w$i", name, quiet).put("pass", -1))
      }
    }._2)

    // timed passes, closed loop from this one thread; a run measures
    // whole passes until `seconds` have elapsed, and at least two, so
    // each op's time is a median over passes. A traced run alternates
    // untraced and traced passes so its overhead is visible.
    val spans = new Spans(enabled = true)
    val passes = out.putArray("passes")
    val schedule = plan.get("passes").elements().asScala.map(Json.strings).toIndexedSeq
    val minPasses = 2
    out.set("host_before", Host.sample())
    Host.resetHeapPeak()
    val t0 = Clock.nowMs()
    var p = 0
    while (p < schedule.size && (p < minPasses || Clock.nowMs() - t0 < seconds * 1000)) {
      val tracedPass = traced && p % 2 == 1
      val rec = if (tracedPass) spans else quiet
      val start = Clock.nowMs()
      var checkMs = 0.0
      schedule(p).zipWithIndex.foreach { case (name, i) =>
        val o = workload.op(s"p$p.$i", name, rec)
        o.put("pass", p)
        checkMs += o.get("check_ms").asDouble
        ops.add(o)
      }
      val po = passes.addObject()
      po.put("pass", p); po.put("traced", tracedPass)
      po.put("start", start); po.put("end", Clock.nowMs()); po.put("check_ms", checkMs)
      p += 1
    }
    out.set("host_after", Host.sample())
    out.put("peak_rss_kb", Host.peakRssKb())
    out.put("heap_peak_mb", Host.heapPeakMb())
    workload.close(out)
    spark.stop() // drains the listener bus before the buffers are read
    if (traced) {
      spans.toJson(out.putArray("spans"))
      listeners.toJson(out)
    }
    Json.mapper.writeValue(Paths.get(args(1)).toFile, out)
  }
}

/** One workload: `op` runs one named op to completion and returns its
  * record (`id`, `name`, `ms`, `check_ms`, digests, probes). */
trait Workload {
  def stage(): Unit = ()
  def op(id: String, name: String, spans: Spans): ObjectNode
  /** Release resources and add workload-level figures to the result. */
  def close(out: ObjectNode): Unit = ()

  protected def spark: SparkSession

  /** Shared op frame: tags Spark jobs with the op id, times the op and
    * its child calls, and samples the JVM-wide probes around it. After
    * the op no Spark cache is left behind. */
  protected def timed(id: String, name: String, spans: Spans)(
      body: ObjectNode => Unit): ObjectNode = {
    val o = Json.mapper.createObjectNode()
    o.put("id", id); o.put("name", name)
    val before = Probes.sample()
    val sc = spark.sparkContext
    sc.setLocalProperty(Listeners.OpProperty, id)
    val start = Clock.nowMs()
    try {
      val (_, ms) = spans("op", id)(body(o))
      o.put("ms", ms)
      o.put("ok", true)
    } catch {
      case e: Throwable =>
        o.put("ms", Clock.nowMs() - start)
        o.put("ok", false)
        o.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      sc.setLocalProperty(Listeners.OpProperty, null)
      graft.CacheScope.drain()
      spark.catalog.clearCache()
    }
    o.put("start", start)
    Probes.sample().diff(before, o)
    if (!o.has("check_ms")) o.put("check_ms", 0.0)
    o
  }
}

/** JVM-wide counters sampled around each op. */
final case class Probes(codegenNs: Long, compiles: Long, gcMs: Long) {
  def diff(before: Probes, o: ObjectNode): Unit = {
    o.put("codegen_ms", (codegenNs - before.codegenNs) / 1e6)
    o.put("compiles", compiles - before.compiles)
    o.put("gc_ms", gcMs - before.gcMs)
  }
}

object Probes {
  def sample(): Probes = Probes(
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum)
}

object Host {
  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum over the heap pools of each pool's peak use since the last
    * reset, in MB: the heap the program filled, whatever the resident
    * set the collector chose to keep. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Host load: load1 and the cumulative steal and total CPU ticks,
    * so a pass that ran on a loaded host can be told apart. */
  def sample(): ObjectNode = {
    val o = Json.mapper.createObjectNode()
    val load1 = Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    o.put("load1", load1)
    o.put("steal_ticks", if (cpu.length > 7) cpu(7) else 0L)
    o.put("total_ticks", cpu.sum)
    o
  }
}

/** Catalog ops: one `SparkEntry.queries` row, built and then consumed
  * by the all-column digest as its terminal action. */
final class CatalogWorkload(val spark: SparkSession, plan: JsonNode) extends Workload {
  private val dir = plan.get("data_dir").asText
  private val queries = graft.SparkEntry.queries

  def op(id: String, name: String, spans: Spans): ObjectNode =
    timed(id, name, spans) { o =>
      val (df, _) = spans("build", id)(queries(name)(spark, dir))
      val (d, _) = spans("action", id)(Digest(df))
      o.put("digest", d)
    }
}

/** Pipeline ops: one `PipelineRunner.run` until `Repository.history`
  * shows the run's final status. Streaming pipelines first get their
  * next input file landed (outside the op). After the op, outside its
  * time, one `PipelineScheduler.tick()` runs with a frozen clock (no
  * pipeline is due) and each sink is read back and digested. */
final class EtlWorkload(val spark: SparkSession, plan: JsonNode) extends Workload {
  import graft.exec.{CurationTransforms, PipelineRunner, TransformRegistry}
  import graft.model.PipelineJson
  import graft.store.Repository

  private val repoDir = Paths.get(plan.get("repo_dir").asText)
  private var repo: Repository = _
  private var runner: PipelineRunner = _
  private var sched: graft.sched.PipelineScheduler = _
  private val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val pipelines = plan.get("pipelines").elements().asScala
    .map(n => PipelineJson.parsePipeline(n.get("spec").toString)).map(p => p.id -> p).toMap
  private val sinks = plan.get("pipelines").elements().asScala.map { n =>
    n.get("spec").get("id").asText -> n.get("sinks").elements().asScala
      .map(s => (s.get("format").asText, s.get("schema").asText, s.get("path").asText)).toSeq
  }.toMap
  private val streams = plan.get("streams").properties().asScala.map { e =>
    e.getKey -> (Paths.get(e.getValue.get("incoming").asText),
      Paths.get(e.getValue.get("landing").asText), Json.strings(e.getValue.get("files")))
  }.toMap

  override def stage(): Unit = {
    // parquet sources are staged from their generated JSON twins
    plan.get("parquet_sources").elements().asScala.foreach { s =>
      spark.read.schema(s.get("schema").asText).json(s.get("json").asText)
        .coalesce(1).write.mode("overwrite").parquet(s.get("path").asText)
    }
    plan.get("lookups").elements().asScala.foreach { l =>
      spark.read.schema(l.get("schema").asText).json(l.get("json").asText)
        .createOrReplaceTempView(l.get("view").asText)
    }
    repo = new Repository(repoDir)
    plan.get("connections").elements().asScala.foreach(c =>
      repo.saveConnection(PipelineJson.parseConnection(c.toString)))
    pipelines.values.foreach(repo.savePipeline)
    val registry = new TransformRegistry
    val named = plan.get("named")
    CurationTransforms.registerQualityFilter(registry, named.get("quality_filter").asLong)
    CurationTransforms.registerEntropyFilter(registry, named.get("entropy_filter").asLong)
    runner = new PipelineRunner(spark, repo, registry)
    val frozen = java.time.Instant.parse(plan.get("clock").asText)
    sched = new graft.sched.PipelineScheduler(runner, repo, () => frozen, workers = 1)
    sched.tick() // first sight of each pipeline only schedules it
  }

  private def land(id: String, k: Int): Unit = streams.get(id).foreach {
    case (incoming, landing, files) =>
      val f = files((k - 1) % files.size)
      Files.createDirectories(landing)
      val tmp = landing.resolve(f"_tmp-$k%05d")
      Files.copy(incoming.resolve(f), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, landing.resolve(f"$k%05d-$f"), StandardCopyOption.ATOMIC_MOVE)
  }

  def op(id: String, name: String, spans: Spans): ObjectNode = {
    val p = pipelines(name)
    runs(name) += 1
    val k = runs(name)
    land(name, k)
    val o = timed(id, name, spans) { o =>
      spans("run", id)(runner.run(p))
      val (hist, _) = spans("history", id)(repo.history(p.id))
      o.put("status", hist.lastOption.map(_.status).getOrElse(""))
    }
    o.put("k", k)
    val (due, tickMs) = spans("tick", id)(sched.tick())
    o.put("due", due.size) // the frozen clock leaves nothing due
    o.put("tick_ms", tickMs)
    val (_, checkMs) = spans("check", id) {
      val ds = o.putArray("digests")
      sinks(name).foreach { case (fmt, schema, path) =>
        ds.add(scala.util.Try(Digest(spark.read.format(fmt).schema(schema).load(path)))
          .getOrElse("unreadable"))
      }
      spark.catalog.clearCache()
    }
    o.put("check_ms", checkMs + tickMs)
    o
  }

  override def close(out: ObjectNode): Unit = {
    out.put("history_bytes", Files.size(repoDir.resolve("history.jsonl")))
    sched.stop()
  }
}

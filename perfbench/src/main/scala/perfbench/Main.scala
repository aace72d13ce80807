package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}
import graft.apps.{NumberCount, ShortestPath}

/** Runs one benchmark workload in one JVM and writes a raw record (spans,
  * listener events, check outputs) for `run.py` to turn into metrics.
  *
  * Usage: perfbench.Main <cpus> <warehouse dir> <plan.json> <record.json>
  *
  * The plan file, which run.py writes after generating the run's inputs
  * from the seed, names the workload, the operation order of every pass,
  * the input locations and the time budget.
  * The engine is driven only through its public functions:
  * `SparkEntry.queries`, `NumberCount.genInts`/`runMapReduce`,
  * `ShortestPath.undirect`/`distributedSssp`/`dijkstra` and
  * `Bench.calibrate`. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(name: String, build: () => DataFrame)

  def main(args: Array[String]): Unit = {
    val Array(cpus, warehouse, planPath, recordPath) = args
    val spans = new Spans
    val spark = spans.within("session", "create") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val plan = json.readTree(new File(planPath))
    val outDir = plan.get("out_dir").asText
    val traced = plan.get("trace").asBoolean
    val passes = plan.get("passes").elements.asScala
      .map(_.elements.asScala.map(_.asText).toVector).toVector
    val ops = operations(spark, plan)
    val root = spans.open("workload", plan.get("workload").asText)

    // Untimed warm-up pass: every operation once, writing the outputs the
    // checks need (the timed passes use the noop sink only).
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    spans.within("pass", "warmup") {
      passes.head.distinct.foreach { name =>
        spans.within("op", name) {
          checks += check(spark, ops(name), plan, outDir)
        }
        spark.catalog.clearCache()
      }
    }
    for (_ <- 1 to plan.get("extra_warmup_passes").asInt)
      spans.within("pass", "warmup") {
        passes.head.foreach { name =>
          timed(spark, spans, ops(name))
          spark.catalog.clearCache()
        }
      }
    val warm = Clock.now()
    System.gc()
    val calibrationMs = Bench.calibrate()

    // Timed passes until the budget is spent and min_passes have run. A traced run
    // registers the listeners first; an untraced run registers nothing.
    val listener = new Listener
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.now()
    val minPasses = plan.get("min_passes").asInt
    var i = 0
    while (i < minPasses || Clock.now() - t0 < plan.get("seconds").asDouble) {
      spans.within("pass", "timed") {
        passes(i % passes.size).foreach { name =>
          results += timed(spark, spans, ops(name))
          spark.catalog.clearCache()
        }
      }
      i += 1
    }
    if (traced) {
      drain(spark, listener)
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(listener)
    }
    spans.close(root)

    val record = Map(
      "workload" -> plan.get("workload").asText,
      "traced" -> traced,
      "jvm_start" -> Clock.ofEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime),
      "warm" -> warm,
      "calibration_ms" -> calibrationMs,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> results,
      "checks" -> checks,
      "spans" -> spans.rows,
      "jobs" -> listener.jobRows,
      "stages" -> listener.stageRows,
      "writes" -> listener.writes.asScala.toSeq,
      "cached_bytes_peak" -> listener.cachedBytesPeak,
      "listener_s" -> listener.busyNs / 1e9)
    json.writeValue(new File(recordPath), record)
    spark.stop()
  }

  /** The operations a plan may name: every catalog entry, plus the two
    * reference sample apps on the run's seeded inputs. */
  private def operations(spark: SparkSession, plan: JsonNode): String => Op = {
    val dataDir = plan.get("data_dir").asText
    val queries = SparkEntry.queries
    lazy val ncRows = plan.get("number_count_rows").asLong
    lazy val ncSeed = plan.get("number_count_seed").asLong
    lazy val grid = plan.get("grid_path").asText
    name => name match {
      case "number_count" => Op(name, () => {
        import spark.implicits._
        NumberCount.runMapReduce(NumberCount.genInts(spark, ncRows, 100, ncSeed).as[Int])
          .toDF("value", "cnt")
      })
      case "sssp" => Op(name, () =>
        ShortestPath.distributedSssp(ShortestPath.undirect(spark.read.parquet(grid)), 0L))
      case q => Op(name, () => queries(q)(spark, dataDir))
    }
  }

  /** One timed operation: the engine call that builds the frame (which may
    * itself run jobs: eager cuts, collects, whole iterative loops), then
    * the noop-sink action graft.Bench times. */
  private def timed(spark: SparkSession, spans: Spans, op: Op): Map[String, Any] = {
    val id = spans.open("op", op.name)
    var error: Option[String] = None
    try {
      val df = spans.within("build", op.name)(op.build())
      spans.within("action", op.name)(df.write.mode("overwrite").format("noop").save())
    } catch { case t: Throwable => error = Some(t.toString) }
    finally spans.close(id)
    val row = spans.rows(id)
    Map("name" -> op.name, "span" -> id,
      "wall_s" -> (row("t1").asInstanceOf[Double] - row("t0").asInstanceOf[Double]),
      "error" -> error.orNull)
  }

  /** Runs an operation once and keeps what its check needs: catalog
    * outputs go to parquet for the DuckDB oracle (as graft.Verify writes
    * them); number_count keeps its histogram and oracle SQL; SSSP is
    * compared here against the serial Dijkstra on the collected edges. */
  private def check(spark: SparkSession, op: Op, plan: JsonNode, outDir: String): Map[String, Any] =
    try op.name match {
      case "number_count" =>
        val rows = op.build().collect().map(r => Seq(r.getInt(0), r.getLong(1))).toSeq
        Map("name" -> op.name, "kind" -> "number_count", "rows" -> rows,
          "sql" -> NumberCount.oracleSql(plan.get("number_count_rows").asLong, 100,
            plan.get("number_count_seed").asLong))
      case "sssp" =>
        val got = op.build().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val edges = ShortestPath.undirect(spark.read.parquet(plan.get("grid_path").asText))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        val want = ShortestPath.dijkstra(edges, 0L)
        val bad = (got.keySet ++ want.keySet).toSeq.sorted
          .filter(n => got.get(n) != want.get(n))
        Map("name" -> op.name, "kind" -> "sssp", "nodes" -> want.size,
          "mismatches" -> bad.size, "first_mismatches" -> bad.take(5))
      case name =>
        val path = s"$outDir/$name"
        op.build().coalesce(1).write.mode("overwrite").parquet(path)
        SparkEntry.oracleSql.get(name) match {
          case Some(sql) => Map("name" -> name, "kind" -> "oracle", "path" -> path, "sql" -> sql)
          case None => Map("name" -> name, "kind" -> "rows", "path" -> path)
        }
    } catch { case t: Throwable =>
      Map("name" -> op.name, "kind" -> "error", "error" -> t.toString)
    }

  /** Listener delivery is asynchronous: run one sentinel job after the last
    * traced operation and wait until its end event has been delivered, so
    * every earlier event has been delivered too. */
  private def drain(spark: SparkSession, listener: Listener): Unit = {
    spark.range(1).count()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.jobRows.lastOption.exists(_("t1").asInstanceOf[Double] > 0) &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

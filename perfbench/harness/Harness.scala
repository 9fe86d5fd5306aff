package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}

/** JVM side of the benchmark: one closed-loop client.
  *
  * Order of a run:
  *  1. set-up, `setupReps` times: `Graft.session`, the warm-up `Bench`
  *     does, and (incremental) the lazy replay source; every rep but the
  *     last stops its session. The first is the cold set-up of the JVM,
  *     the others are warm re-setups, kept for comparison;
  *  2. a verification pass: every item once, its result written as
  *     parquet for the DuckDB oracle (untimed; it also warms codegen);
  *  3. `passes` timed passes over the items, one after another. Each
  *     item is timed as `build` (the `fn(spark, dir)` call) and `write`
  *     (the noop write), with `clearCache` after it, as `Bench` does.
  *
  * With `oracle_sql=<path>` it only writes the items' oracle SQL there.
  * With `trace=1` the listeners in [[Trace]] are registered before the
  * timed passes; with `trace=0` none is. Everything measured is written
  * as one JSON record (`out=`); the arithmetic happens in `metrics.py`.
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    if (a.contains("oracle_sql")) {
      writeOracleSql(a("items").split(",").toSeq, a("oracle_sql"))
      return
    }
    val dataDir = a("data")
    val cpus = a("cpus").toInt
    val items = a("items").split(",").toSeq.filter(_.nonEmpty)
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val reps = a("setup_reps").toInt
    val replay = a.get("replay_source").contains("1")
    val loop = CatalogLoop.Spec.parse(a.getOrElse("catalog", ""))
    val clock = new Clock

    // 1. set-up
    val setups = ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (rep <- 0 until reps) {
      if (spark != null) spark.stop()
      // a distinct (equivalent) path string per rep: the replay source
      // is memoized per JVM by that string, so every rep builds it anew
      val dir = dataDir + "/." * (reps - 1 - rep)
      val t0 = clock.now()
      spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = "graft-perfbench")
      val t1 = clock.now()
      warmup(spark, dir)
      val t2 = clock.now()
      if (replay) graft.streaming.Replay.source(spark, dir)
      val t3 = clock.now()
      setups += Map("session_s" -> (t1 - t0) / 1e3, "warmup_s" -> (t2 - t1) / 1e3,
        "source_s" -> (t3 - t2) / 1e3, "total_s" -> (t3 - t0) / 1e3)
    }
    val sc = spark.sparkContext

    val catalog = new CatalogLoop(spark, dataDir, loop, clock)
    def build(name: String): DataFrame =
      if (name.startsWith("cat_")) catalog.run(name)
      else SparkEntry.queries(name)(spark, dataDir)

    // 2. verification pass
    val verifyDir = a("verify")
    val verify = items.map { name =>
      sc.setJobGroup(s"perfbench:verify:$name", s"verify $name", interruptOnCancel = false)
      val r: Map[String, Any] =
        try {
          build(name).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
          Map("name" -> name, "ok" -> true)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] verify $name failed: $e")
          Map("name" -> name, "ok" -> false, "error" -> e.toString)
        }
      spark.catalog.clearCache()
      r
    }
    sc.clearJobGroup()
    catalog.spans.clear()
    writeOracleSql(items, s"$verifyDir/oracle_sql.json")

    // 3. timed passes
    val tracer = if (trace) Some(new Trace(spark, clock)) else None
    val warehouse = new java.io.File(System.getProperty("spark.sql.warehouse.dir"))
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val tmpBefore = FsStats.live(tmpdir)
    val fsBefore = FsStats.snapshot()
    val runs = ArrayBuffer[Map[String, Any]]()
    val t0 = clock.now()
    for (pass <- 0 until passes) {
      items.foreach { name =>
        val id = tracer.fold(0L)(_.openEntry())
        sc.setJobGroup(s"perfbench:$pass:$name", s"$name pass $pass", interruptOnCancel = false)
        sc.setLocalProperty(Trace.EntryProp, id.toString)
        catalog.parent = id
        val s = clock.now()
        var b = s
        val ok =
          try {
            val df = build(name)
            b = clock.now()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name pass $pass failed: $e")
            false
          }
        val e = clock.now()
        tracer.foreach(_.closeEntry())
        sc.setLocalProperty(Trace.EntryProp, null)
        spark.catalog.clearCache()
        runs += Map("name" -> name, "pass" -> pass, "start" -> s, "built" -> b,
          "end" -> e, "ok" -> ok, "span" -> id)
      }
    }
    val wall = clock.now() - t0
    val fsAfter = FsStats.snapshot()
    val tmpAfter = FsStats.live(tmpdir)
    val layouts = FsStats.live(warehouse)
    sc.clearJobGroup()
    tracer.foreach(_.close())

    val record = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "master" -> sc.master,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setups" -> setups,
      "verify" -> verify,
      "passes" -> passes,
      "wall_ms" -> wall,
      "runs" -> runs,
      "catalog_spans" -> catalog.spans.toSeq,
      "fs_bytes_before" -> fsBefore,
      "fs_bytes_after" -> fsAfter,
      // layouts are rebuilt in place by every pass; checkpoints and
      // replay state accumulate per run under java.io.tmpdir
      "layout_bytes" -> layouts._1, "layout_files" -> layouts._2,
      "tmp_bytes_before" -> tmpBefore._1, "tmp_bytes_after" -> tmpAfter._1,
      "tmp_files_before" -> tmpBefore._2, "tmp_files_after" -> tmpAfter._2,
      "peak_rss_kb" -> peakRssKb(),
      "trace" -> tracer.map(_.record()).orNull)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(record))
    spark.stop()
  }

  /** The DuckDB oracle SQL of each item (a `cat_*` item uses the oracle
    * of the driver entry it mirrors), as JSON. */
  def writeOracleSql(items: Seq[String], path: String): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(
      items.flatMap(n => CatalogLoop.oracleOf(n).orElse(Some(n))
        .flatMap(SparkEntry.oracleSql.get).map(n -> _)).toMap))

  /** `Bench`'s warm-up: codegen, shuffle, the parquet reader and the
    * noop sink, once. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    val r = spark.read.parquet(s"$dir/region.parquet")
    r.join(broadcast(r.select(col("r_regionkey").as("k"))), col("r_regionkey") === col("k"))
      .select(explode(split(col("r_name"), "")).as("c"))
      .groupBy(col("c")).count()
      .write.format("noop").mode("overwrite").save()
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** One time base for the harness and the listeners: epoch milliseconds
  * with sub-millisecond resolution from `nanoTime`. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Bytes written through Hadoop's local file system — every parquet,
  * checkpoint and layout write of the program goes through it (shuffle
  * files do not) — and live bytes on disk. */
object FsStats {
  def snapshot(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** Bytes and files under `dir`, recursively. */
  def live(dir: java.io.File): (Long, Long) =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).map { f =>
      if (f.isDirectory) live(f) else (f.length(), 1L)
    }.foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

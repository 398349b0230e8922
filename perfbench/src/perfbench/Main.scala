package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analytics.Caches

/** JVM side of the benchmark: one workload, one closed-loop client.
  *
  * {{{
  *   Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR --out FILE
  * }}}
  *
  * Sets the workload up, warms it, then runs the ops the workload plans
  * for S seconds back to back. Each op's output is collected and
  * digested; the read that follows each op is timed apart from it. A
  * traced run then runs the workload's breakdown and curation side op, if
  * it has them.
  * Everything is written to one JSON file that `run.py` turns into
  * metrics. */
object Main {
  /** Op id of the breakdown's spans. */
  val BreakdownOp = -2
  /** Op id of the curation side op's spans and jobs. */
  val CurationOp = -3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.analytics.TempDirs.scratch("perfbench-wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.registerAll(spark)
    val sessionS = (System.nanoTime - t0) / 1e9
    Log("session up")

    val env = new Env(spark, opt("inputs"), opt("seed").toLong)
    val wl: Workload = opt("workload") match {
      case "medallion_batch" => new MedallionBatch(env)
      case "gold_serving" => new GoldServing(env)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val t1 = System.nanoTime
    wl.setup()
    val prepS = (System.nanoTime - t1) / 1e9
    val t2 = System.nanoTime
    val warmChecks = wl.warmup()
    Caches.release()
    val warmS = (System.nanoTime - t2) / 1e9
    val readyMs = System.currentTimeMillis
    Log("set up and warm")

    val tracer = new Tracer
    val listener = if (traceOn) Some(new OpListener) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val outs = mutable.Map.empty[Int, OpOut]
    val tracedLatency = mutable.ArrayBuffer.empty[(Int, Double)]
    val planned = wl.plannedOps(seconds)
    var i = 0
    // a lone op is traced when tracing is on; otherwise a traced run
    // alternates untraced and traced ops, so the overhead compares like
    // with like
    def tracedOp(k: Int) = traceOn && (planned == 1 || k % 2 == 1)
    while (i < planned) {
      val tr = if (tracedOp(i)) Some(tracer) else None
      // the listener only listens to traced ops, so untraced ops pay nothing
      if (tr.nonEmpty) listener.foreach(_.attach(spark))
      tracer.op = i
      val tag = s"perfbench-op-$i"
      spark.sparkContext.addJobTag(tag)
      val filesBefore = if (tr.nonEmpty) Storage.tableFiles() else Map.empty[Path, Long]
      val startMs = tracer.now
      val a = System.nanoTime
      val res = try Right(wl.op(i, tr)) catch { case e: Throwable => Left(e) }
      val latency = (System.nanoTime - a) / 1e9
      val endMs = tracer.now
      spark.sparkContext.removeJobTag(tag)
      if (tr.nonEmpty) listener.foreach { l =>
        l.opWindow(i, startMs, endMs)
        l.drain()
        l.detach(spark)
      }
      val written = if (tr.isEmpty) Map.empty[String, Long] else {
        val after = Storage.tableFiles()
        val added = after.keySet -- filesBefore.keySet
        Map("bytes" -> added.toSeq.map(after).sum,
          "log_entries" -> added.count(Storage.isLogEntry).toLong)
      }
      Caches.release()
      val b = System.nanoTime
      val fresh = res.flatMap(_ => try Right(env.span(tr, "fresh_read")(wl.freshRead(i, tr)))
        catch { case e: Throwable => Left(e) })
      val freshS = (System.nanoTime - b) / 1e9
      Caches.release()
      res.foreach(o => outs(i) = o)
      if (tr.nonEmpty) tracedLatency += ((i, latency))
      val checks = res.map(_.checks).getOrElse(Nil) ++ fresh.toOption.flatten.getOrElse(Nil)
      ops += Map(
        "i" -> i, "traced" -> tr.nonEmpty, "start_ms" -> startMs, "latency_s" -> latency,
        "fresh_s" -> fresh.toOption.flatten.map(_ => freshS),
        "input_rows" -> res.map(_.inputRows).getOrElse(0L),
        "result_rows" -> res.map(_.resultRows).getOrElse(0L),
        "params" -> res.map(_.params).getOrElse(Map.empty),
        "checks" -> checks,
        "written" -> written,
        "error" -> (res.left.toOption ++ fresh.left.toOption).headOption.map(errorText))
      i += 1
    }

    Log(s"loop done: ${ops.size} ops")
    val breakdown = if (!traceOn) None else {
      tracer.op = BreakdownOp
      val b = tracer.span(s"breakdown.${wl.name}")(wl.breakdown(tracer))
      Caches.release()
      b
    }
    val curation = listener.flatMap { l =>
      tracer.op = CurationOp
      val tag = s"perfbench-op-$CurationOp"
      l.attach(spark)
      spark.sparkContext.addJobTag(tag)
      val start = tracer.now
      try wl.curation(tracer) finally {
        spark.sparkContext.removeJobTag(tag)
        l.opWindow(CurationOp, start, tracer.now)
        l.drain()
        l.detach(spark)
        Caches.release()
      }
    }
    val finalChecks = wl.finish()
    def settled(cs: Seq[Check]) = cs.map(c => wl.resolve(c).toMap)
    val finished = ops.map(o => o + ("checks" -> settled(o("checks").asInstanceOf[Seq[Check]])))
    val space = Storage.census(env, wl.liveCatalog)
    Log("census done")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> env.seed, "cores" -> cores,
      "ready_ms" -> readyMs,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "warmup_checks" -> settled(warmChecks),
      "final_checks" -> settled(finalChecks ++ (breakdown ++ curation).toSeq.flatMap(_.checks)),
      "ops" -> finished,
      "space" -> space,
      "peak_rss_mb" -> Storage.peakRssMb,
      "oracle_sql" -> wl.oracleQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
    listener.foreach { l =>
      l.settlePlans()
      result ++= Layers(wl.name, l, tracer, outs.toMap, breakdown, curation, tracedLatency.toSeq,
        finished.toSeq, space, cores)
    }
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
    Log("stopped")
    // idle non-daemon pool threads of the program would otherwise hold
    // the JVM open until their keep-alive expires
    sys.exit(0)
  }

  private def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    s"${e.getClass.getName}: $msg"
  }
}

object Log {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on the JVM log, with seconds since the JVM started. */
  def apply(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis - jvmStart) / 1000.0}%7.2f s] $msg")
}

/** Storage census of the catalog a workload left behind. */
object Storage {
  def census(env: Env, cat: Option[String]): Map[String, Any] = cat match {
    case None => Map.empty
    case Some(c) =>
      val wh = env.warehouse(c)
      val tables = env.spark.sql(s"SHOW TABLES IN $c.ns").collect().map(_.getString(1)).toSeq
      val live = tables.map { t =>
        env.spark.table(s"$c.ns.`$t$$files`").agg(count(lit(1)), sum(col("size_bytes")))
          .head()
      }
      val files = walk(wh)
      def under(dir: String) = files.count(p => p.getParent.getFileName.toString == dir &&
        p.getFileName.toString.endsWith(".json"))
      Map(
        "tables" -> tables.size,
        "live_files" -> live.map(_.getLong(0)).sum,
        "live_bytes" -> live.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum,
        "disk_bytes" -> files.map(Files.size).sum,
        "log_files" -> under("log"),
        "checkpoints" -> under("ckpt"))
  }

  /** Every file of every table warehouse the run created, with its size. */
  def tableFiles(): Map[Path, Long] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala
      .filter(d => Files.isDirectory(d) && {
        val n = d.getFileName.toString
        n.startsWith("graft-") || n.startsWith("perfbench-")
      })
      .flatMap(walk).map(p => p -> Files.size(p)).toMap
  }

  def isLogEntry(p: Path): Boolean =
    p.getParent.getFileName.toString == "log" && p.getFileName.toString.endsWith(".json")

  def walk(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Driver JVM resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

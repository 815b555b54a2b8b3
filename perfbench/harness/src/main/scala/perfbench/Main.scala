package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry
import graft.engine.Engine
import graft.sql.{PrestoSql, ResourceGroups, StatementServer}

/** JVM side of the benchmark. `run.py` starts it in one of two modes:
  *
  *   inproc  one closed-loop client in this process runs the named
  *           `SparkEntry.benchQueries` in whole rounds, in an order drawn
  *           from the seed, and writes timings and first-round result rows;
  *   serve   a loopback `StatementServer` behind a `ResourceGroups` tree,
  *           driven by clients in another process; stdin carries the
  *           `mark` / `cpu` / `report <file>` / `quit` control lines.
  *
  * Arguments are `--key value` pairs; see `run.py` for the full set.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "inproc" => inproc(opts)
      case "serve" => serve(opts)
      case m => sys.error(s"unknown mode $m")
    }
  }

  // ---------------------------------------------------------------- setup

  /** The engine runs as `local[4]`, one thread per core of the 4-core reference host. */
  private val Cores = 4

  final case class Ready(spark: SparkSession, server: Option[StatementServer.Server],
      times: Map[String, Double])

  /** The run's one set-up, timed from JVM start: session, table
    * registration, the partsupp cache and, for `serve`, admission control
    * plus the server bind.
    */
  private def setUp(opts: Map[String, String]): Ready = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Engine.session(s"local[$Cores]")
    val t1 = System.nanoTime()
    Engine.registerTables(spark, opts("fixture"))
    val t2 = System.nanoTime()
    spark.table("partsupp").write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    val server = opts.get("resource-groups").map { rg =>
      ResourceGroups.configure(spark, rg)
      StatementServer.start(spark)
    }
    val t4 = System.nanoTime()
    Ready(spark, server, Map(
      "total_s" -> (System.currentTimeMillis() - startMs) / 1e3,
      "session_s" -> (t1 - t0) / 1e9,
      "register_s" -> (t2 - t1) / 1e9,
      "partsupp_s" -> (t3 - t2) / 1e9,
      "bind_s" -> (t4 - t3) / 1e9))
  }

  private def settings(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "master_cores" -> spark.sparkContext.defaultParallelism,
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "spark_version" -> spark.version,
    "jdk_version" -> System.getProperty("java.version"),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))

  private def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json.render(v).getBytes(UTF_8))

  // -------------------------------------------------------------- inproc

  final case class Exec(name: String, round: Int, buildEndMs: Long, endMs: Long,
      buildNs: Long, totalNs: Long, rows: Long, error: Option[String])

  private def inproc(opts: Map[String, String]): Unit = {
    val ready = setUp(opts)
    val spark = ready.spark
    val sc = spark.sparkContext
    val fixture = opts("fixture")
    val names = scala.io.Source.fromFile(opts("queries"), "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val fns = SparkEntry.benchQueries
    val oracles = SparkEntry.oracleSql
    val benchVariant = SparkEntry.modules.flatMap(_.queries).filter(_.benchBuild.isDefined).map(_.name).toSet
    val missing = names.filterNot(fns.contains)
    if (missing.nonEmpty) sys.error(s"queries not in SparkEntry.benchQueries: ${missing.mkString(", ")}")
    val tracer = if (opts("trace") == "1") Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    val rng = new scala.util.Random(opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val firstRows = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[String], Array[Row])]
    val rowCountMismatch = ArrayBuffer.empty[String]
    val execs = ArrayBuffer.empty[Exec]
    val roundWallS = ArrayBuffer.empty[Double]
    val roundCpuS = ArrayBuffer.empty[Double]

    def execute(name: String, round: Int): Exec = {
      val groupId = s"perfbench-$round-$name"
      sc.setJobGroup(groupId, name)
      val t0 = System.nanoTime()
      try {
        val df = fns(name)(spark, fixture)
        val t1 = System.nanoTime()
        val buildEndMs = System.currentTimeMillis()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        firstRows.get(name) match {
          case None => firstRows(name) = (df.schema.fieldNames.toSeq, rows)
          case Some((_, r0)) => if (r0.length != rows.length) rowCountMismatch += name
        }
        Exec(name, round, buildEndMs, endMs, t1 - t0, t2 - t0, rows.length, None)
      } catch {
        case NonFatal(e) =>
          val t2 = System.nanoTime()
          val endMs = System.currentTimeMillis()
          Exec(name, round, endMs, endMs, t2 - t0, t2 - t0, 0,
            Some(Option(e.getMessage).getOrElse(e.toString).take(500)))
      } finally sc.clearJobGroup()
    }

    // Untimed warm-up rounds first; their results are the ones checked.
    val warmup = opts("warmup").toInt
    (0 until warmup).foreach(w => rng.shuffle(names).foreach(n => execs += execute(n, w)))
    val snap0 = Proc.snap()
    Proc.resetHeapPeak()
    var round = warmup
    while (round == warmup || (System.nanoTime() - snap0.wallNs) / 1e9 < seconds) {
      val order = rng.shuffle(names)
      val r0 = System.nanoTime()
      val c0 = Proc.cpuS()
      order.foreach(n => execs += execute(n, round))
      roundWallS += (System.nanoTime() - r0) / 1e9
      roundCpuS += Proc.cpuS() - c0
      round += 1
    }
    val snap1 = Proc.snap()
    org.apache.spark.sql.graft.ListenerBusFlush.drain(sc)

    val out = opts("out")
    val rs = new BufferedOutputStream(new FileOutputStream(s"$out/results.jsonl"), 1 << 20)
    firstRows.foreach { case (name, (cols, rows)) =>
      val g = Json.generator(rs)
      g.writeStartObject()
      g.writeStringField("name", name)
      g.writeFieldName("oracle"); Json.write(g, oracles.get(name))
      g.writeBooleanField("bench_variant", benchVariant(name))
      g.writeFieldName("columns"); Json.write(g, cols)
      g.writeFieldName("rows")
      g.writeStartArray()
      rows.foreach(Json.writeRow(g, _))
      g.writeEndArray()
      g.writeEndObject()
      g.flush()
      rs.write('\n')
    }
    rs.close()
    firstRows.clear() // the checked rows are the harness's, not the engine's

    val execJson = execs.map { e =>
      val base = Map[String, Any](
        "name" -> e.name, "round" -> e.round, "total_ms" -> e.totalNs / 1e6,
        "build_ms" -> e.buildNs / 1e6, "rows" -> e.rows, "error" -> e.error,
        "warmup" -> (e.round < warmup))
      tracer.fold(base)(t => base ++ traced(t.group(s"perfbench-${e.round}-${e.name}"), e))
    }
    writeJson(s"$out/stats.json", Map(
      "settings" -> settings(spark),
      "setup" -> ready.times,
      "rounds" -> (round - warmup),
      "round_wall_s" -> roundWallS,
      "round_cpu_s" -> roundCpuS,
      "window_s" -> (snap1.wallNs - snap0.wallNs) / 1e9,
      "cpu_s" -> (snap1.cpuS - snap0.cpuS),
      "gc_s" -> (snap1.gcS - snap0.gcS),
      "jit_s" -> (snap1.jitS - snap0.jitS),
      "codegen_compiles" -> (snap1.codegen - snap0.codegen),
      "heap_peak_mb" -> Proc.heapPeakMb(),
      "peak_rss_mb" -> Proc.peakRssMb(),
      "heap_live_mb" -> Proc.liveHeapMb(),
      "steal_pct" -> Proc.stealPct(snap0.steal, snap1.steal),
      "listener_ms" -> tracer.map(_.listenerNs / 1e6),
      "row_count_mismatch" -> rowCountMismatch.distinct,
      "execs" -> execJson))
    spark.stop()
  }

  /** Per-query layer split of one in-process execution, as consecutive
    * pieces of its wall time: build (the `runBench` call), Catalyst (phases
    * that started after the build returned), execution (end of planning to
    * the last job's end, driver-side work around the jobs included) and
    * drain (last job end until `collect` returned). Task counters cover every job of
    * the query, construction jobs included.
    */
  private def traced(g: GroupStats, e: Exec): Map[String, Any] = g.synchronized {
    def phaseS(name: String) = g.phases.filter(_._1 == name).map(p => p._3 - p._2).sum / 1e3
    val buildJobs = g.jobs.count(_._2 < e.buildEndMs)
    val execJobs = g.jobsFrom(e.buildEndMs)
    val jobS = g.jobUnionMs(e.buildEndMs) / 1e3
    val lastEnd = execJobs.flatMap(j => g.jobEnd.get(j._1)).maxOption
    // Execution starts where the query's planning ends: code generation,
    // AQE re-planning, broadcast building and the planning of nested
    // queries during execution all count as execution.
    val firstJob = execJobs.map(_._2).minOption
    val planning = g.phases.filter(p => p._2 >= e.buildEndMs && firstJob.forall(p._3 <= _))
    val planEnd = (planning.map(_._3) :+ e.buildEndMs).max
    val execS = lastEnd.map(l => math.max(0L, l - planEnd) / 1e3).getOrElse(0.0)
    val catalystAfterBuildS = planning.map(p => p._3 - p._2).sum / 1e3
    val drainS = lastEnd.map(l => math.max(0L, e.endMs - l) / 1e3)
      .getOrElse(math.max(0.0, (e.endMs - e.buildEndMs) / 1e3 - catalystAfterBuildS))
    Map(
      "build.s" -> e.buildNs / 1e9,
      "build.jobs" -> buildJobs,
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "catalyst.after_build_s" -> catalystAfterBuildS,
      "plans.kpp_s" -> g.kppNs / 1e9,
      "plans.kpp_effective" -> g.kppEffective,
      "exec.s" -> execS,
      "exec.job_s" -> jobS,
      "exec.driver_s" -> (execS - jobS),
      "exec.jobs" -> (g.jobs.size - buildJobs),
      "exec.stages" -> g.stages,
      "exec.tasks" -> g.tasks,
      "exec.task_cpu_s" -> g.taskCpuNs / 1e9,
      "exec.task_run_s" -> g.taskRunMs / 1e3,
      "exec.sched_wait_s" -> g.schedDelayMs / 1e3,
      "exec.gc_s" -> g.gcMs / 1e3,
      "exec.input_rows" -> g.inputRows,
      "exec.input_mb" -> g.inputBytes / 1048576.0,
      "exec.shuffle_write_mb" -> g.shuffleWriteBytes / 1048576.0,
      "exec.shuffle_read_mb" -> g.shuffleReadBytes / 1048576.0,
      "exec.spill_mb" -> g.spillBytes / 1048576.0,
      "exec.peak_exec_mem_mb" -> g.peakExecMem / 1048576.0,
      "exec.task_failures" -> g.taskFailures,
      "drain.s" -> drainS,
      "drain.rows" -> e.rows)
  }

  // --------------------------------------------------------------- serve

  private def serve(opts: Map[String, String]): Unit = {
    val ready = setUp(opts)
    val spark = ready.spark
    val server = ready.server.get
    val tracer = if (opts("trace") == "1") Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    val oracles = SparkEntry.oracleSql
    val names = (graft.queries.TpchQueries.queries ++ graft.queries.TpcdsShapeQueries.queries)
      .map(_.name).filter(oracles.contains).sorted
    val statements = names.map { n =>
      val rewriteMs = tracer.map { _ =>
        val samples = (0 until 5).map { _ =>
          val t0 = System.nanoTime(); PrestoSql.rewriteFull(oracles(n)); (System.nanoTime() - t0) / 1e6
        }
        samples.sorted.apply(2)
      }
      Map("name" -> n, "sql" -> oracles(n), "rewrite_ms" -> rewriteMs)
    }
    writeJson(s"${opts("out")}/statements.json", statements)
    writeJson(s"${opts("out")}/server_setup.json", Map("settings" -> settings(spark), "setup" -> ready.times))
    println(s"READY ${server.port}")
    System.out.flush()

    var snap0 = Proc.snap()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, UTF_8))
    var line = in.readLine()
    while (line != null && line != "quit") {
      var reply = "OK"
      line.split(" ", 2) match {
        case Array("mark") =>
          snap0 = Proc.snap()
          Proc.resetHeapPeak()
        case Array("cpu") => reply = s"OK ${Proc.cpuS()}"
        case Array("report", path) =>
          org.apache.spark.sql.graft.ListenerBusFlush.drain(spark.sparkContext)
          val snap1 = Proc.snap()
          val groups = tracer.map { t =>
            t.groupIds.map { id =>
              val g = t.group(id)
              id -> g.synchronized {
                def phaseS(name: String) =
                  g.phases.filter(_._1 == name).map(p => p._3 - p._2).sum / 1e3
                Map[String, Any](
                  "first_job_ms" -> (if (g.jobs.isEmpty) None else Some(g.jobs.map(_._2).min)),
                  "exec_s" -> g.jobSpanMs / 1e3,
                  "job_s" -> g.jobUnionMs(0L) / 1e3,
                  "jobs" -> g.jobs.size, "stages" -> g.stages, "tasks" -> g.tasks,
                  "task_cpu_s" -> g.taskCpuNs / 1e9, "task_run_s" -> g.taskRunMs / 1e3,
                  "sched_wait_s" -> g.schedDelayMs / 1e3, "gc_s" -> g.gcMs / 1e3,
                  "input_rows" -> g.inputRows, "input_mb" -> g.inputBytes / 1048576.0,
                  "shuffle_write_mb" -> g.shuffleWriteBytes / 1048576.0,
                  "shuffle_read_mb" -> g.shuffleReadBytes / 1048576.0,
                  "spill_mb" -> g.spillBytes / 1048576.0,
                  "peak_exec_mem_mb" -> g.peakExecMem / 1048576.0,
                  "task_failures" -> g.taskFailures,
                  "output_rows" -> g.outputRows, "output_mb" -> g.outputBytes / 1048576.0,
                  "analysis_s" -> phaseS("analysis"), "optimization_s" -> phaseS("optimization"),
                  "planning_s" -> phaseS("planning"),
                  "kpp_s" -> g.kppNs / 1e9, "kpp_effective" -> g.kppEffective)
              }
            }.toMap
          }
          writeJson(path, Map(
            "window_s" -> (snap1.wallNs - snap0.wallNs) / 1e9,
            "cpu_s" -> (snap1.cpuS - snap0.cpuS),
            "gc_s" -> (snap1.gcS - snap0.gcS),
            "jit_s" -> (snap1.jitS - snap0.jitS),
            "codegen_compiles" -> (snap1.codegen - snap0.codegen),
            "heap_peak_mb" -> Proc.heapPeakMb(),
            "peak_rss_mb" -> Proc.peakRssMb(),
            "heap_live_mb" -> Proc.liveHeapMb(),
            "steal_pct" -> Proc.stealPct(snap0.steal, snap1.steal),
            "listener_ms" -> tracer.map(_.listenerNs / 1e6),
            "cores" -> spark.sparkContext.defaultParallelism,
            "groups" -> groups))
        case _ => System.err.println(s"perfbench: unknown control line: $line")
      }
      println(reply)
      System.out.flush()
      line = in.readLine()
    }
    server.stop()
    spark.stop()
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.tools.JvmControl

/** JVM side of the benchmark: sets up one workload, measures it, checks
  * the crawl outputs, and writes a raw record (samples, not statistics)
  * that run.py turns into the result line.
  *
  * Usage: perfbench.Main --workload <w> --seed <n> --seconds <s>
  *          --trace <0|1> --base <run dir> --out <raw.json>
  */
object Main {

  /** local[cpus]: the benchmark is sized for a 4-core host. */
  val cpus = 4

  /** input generations per run; setup_s takes their median. A traced run
    * reports no setup_s, generates once and runs no warm-up crawl (its
    * first, untraced unit warms instead). */
  val setupRepeats = 3
  /** A traced run submits three units: untraced (warms what set-up did
    * not), traced, untraced; the overhead compares the last two. */
  val tracedUnits = 3
  val controlRows = 300000L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val base = a("base")
    Files.createDirectories(Paths.get(base))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.local.dir", s"$base/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "session_s" -> sessionS)
    workload match {
      case "bulk_crawl" => crawlWorkload(spark, Crawls.bulk, seed, seconds, trace, base, raw)
      case "query_suite" => suiteWorkload(spark, seed, seconds, trace, base, raw)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    raw("jvm_s") = (System.nanoTime() - t0) / 1e9
    val tStop = System.nanoTime()
    spark.stop()
    raw("stop_s") = (System.nanoTime() - tStop) / 1e9
    Files.writeString(Paths.get(a("out")), Json(raw))
  }

  /** Hardware control (context, never gated): canonicalize rows/s on
    * plain threads, after a short untimed pass so the JIT has compiled it. */
  private def control(): Double = {
    JvmControl.rate(cpus, controlRows / 3)
    JvmControl.rate(cpus, controlRows)
  }

  /** Process high-water resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def secsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------- crawl workloads ----------------

  /** Warm-up crawl: the first round of the workload's own crawl from four
    * seeds, so JIT and codegen are warm before the clock. */
  private def warmUp(spark: SparkSession, spec: Crawls.Spec,
      in: Crawls.Inputs, dir: String): Crawls.Crawl =
    Crawls.runCrawl(spark, spec, in.copy(seeds = in.seeds.take(4)), dir,
      spec.cfg.copy(maxRounds = 1))

  /** Per-round listener windows of one traced crawl. */
  private def roundWindows(spark: SparkSession, jt: JobTrace,
      rounds: Seq[(Int, Long, Long, Long, Long)], startMs: Long,
      workDir: String): Seq[Map[String, Any]] = {
    val jobs = jt.snapshot(spark.sparkContext)
    val files = Crawls.filesPerRound(workDir)
    var prev = startMs
    rounds.map { case (round, end, intervalMs, engineMs, sched) =>
      val w = JobTrace.window(jobs, prev, end)
      prev = end
      Map[String, Any]("round" -> round, "wall_ms" -> intervalMs,
        "engine_ms" -> engineMs, "scheduled" -> sched, "jobs" -> w.jobs,
        "tasks" -> w.tasks, "run_ms" -> w.runMs,
        "sched_delay_ms" -> w.schedDelayMs, "gap_ms" -> w.gapMs,
        "shuffle_write_bytes" -> w.shuffleWriteBytes,
        "shuffle_read_bytes" -> w.shuffleReadBytes,
        "spill_bytes" -> w.spillBytes, "output_bytes" -> w.outputBytes,
        "output_files" -> files.getOrElse(round, 0),
        "core_util" -> w.runMs.toDouble / math.max(intervalMs * cpus, 1L),
        "by_site" -> w.bySite.map { case (k, (j, t, r)) =>
          k -> Map("jobs" -> j, "tasks" -> t, "run_ms" -> r) })
    }
  }

  private def roundRows(c: Crawls.Crawl): Seq[Map[String, Any]] =
    c.rounds.map { case (round, _, ms, engineMs, sched) =>
      Map[String, Any]("round" -> round, "ms" -> ms, "engine_ms" -> engineMs,
        "scheduled" -> sched)
    }

  /** Replay the heaviest and the median round (by manifest interval) of
    * a finished crawl; rounds >= 1 only, as round 0 reads the seeds. */
  private def replayCrawl(spark: SparkSession, spec: Crawls.Spec,
      in: Crawls.Inputs, c: Crawls.Crawl, base: String): Map[String, Any] = {
    val eligible = c.rounds.filter(_._1 >= 1)
    if (eligible.isEmpty) return Map.empty
    val heavy = eligible.maxBy(r => (r._5, r._1))._1
    val byMs = eligible.sortBy(r => (r._3, r._1))
    val median = byMs((byMs.size - 1) / 2)._1
    def nextSeq(round: Int) = c.rounds.filter(_._1 < round).map(_._5).sum
    def one(round: Int) = {
      val scratch = s"$base/replay-$round"
      val m = Replay.round(spark, spec, in, c.workDir, round, nextSeq(round),
        scratch)
      Crawls.wipe(scratch)
      Map[String, Any]("round" -> round, "metrics" -> m)
    }
    val heavyRound = one(heavy)
    Map("heaviest" -> heavyRound,
      "median" -> (if (median == heavy) heavyRound else one(median)))
  }

  /** Output check, untimed: every crawl against the engine-mode oracle. */
  private def checkCrawls(spark: SparkSession, spec: Crawls.Spec,
      in: Crawls.Inputs, crawls: Seq[Crawls.Crawl],
      raw: mutable.Map[String, Any]): Unit = {
    val (want, oracleS) = secsOf(Crawls.oracle(spark, spec, in))
    val failures = crawls.flatMap(c => Crawls.check(spark, spec, c, want))
    raw("check") = Map("attempted" -> crawls.size, "failed" -> failures.size,
      "failures" -> failures, "oracle_s" -> oracleS)
  }

  /** The closed loop both workloads share. Unit i runs `before(i)` (the
    * leaves, for query_suite), then one crawl of `spec`; units go on until
    * `seconds` of unit time are used, at least one, and a traced run
    * submits `tracedUnits` with the listener attached to the second.
    * `before` returns the unit's own fields and timed seconds; a unit
    * without its own "wall_s" counts its crawl's. After the loop: memory,
    * disk, the output check and, traced, listener rounds and the replay. */
  private def measure(spark: SparkSession, spec: Crawls.Spec,
      in: Crawls.Inputs, seconds: Double, trace: Boolean, base: String,
      raw: mutable.Map[String, Any])(
      before: Int => (Map[String, Any], Double)): Unit = {
    raw("control_pre") = control()
    val tMeasure = System.nanoTime()
    val jt = new JobTrace
    val units = mutable.Buffer.empty[Map[String, Any]]
    val crawls = mutable.Buffer.empty[Crawls.Crawl]
    val listenerRounds = mutable.Buffer.empty[Map[String, Any]]
    var measured = 0.0
    def more = units.isEmpty || measured < seconds ||
      (trace && units.size < tracedUnits)
    while (more) {
      val i = units.size
      val traced = trace && i == 1
      if (traced) { jt.clear(); spark.sparkContext.addSparkListener(jt) }
      val (fields, secs) = before(i)
      val c = Crawls.runCrawl(spark, spec, in, s"$base/crawl-$i", spec.cfg)
      if (traced) {
        listenerRounds ++= roundWindows(spark, jt, c.rounds, c.startMs,
          c.workDir)
        spark.sparkContext.removeSparkListener(jt)
      }
      measured += secs + c.wallS
      crawls += c
      units += Map[String, Any]("traced" -> traced, "wall_s" -> c.wallS,
        "crawl_s" -> c.wallS, "scheduled" -> c.scheduled,
        "rounds" -> roundRows(c)) ++ fields
    }
    raw("peak_rss_mb") = peakRssMb()
    raw("work_dir_mb") = crawls.map(c => Crawls.dirBytes(c.workDir) / 1048576.0)
    raw("loop_s") = (System.nanoTime() - tMeasure) / 1e9
    raw("control_post") = control()
    checkCrawls(spark, spec, in, crawls.toSeq, raw)
    raw("units") = units.toSeq
    if (trace) {
      raw("round_listener") = listenerRounds.toSeq
      raw("replay") = replayCrawl(spark, spec, in, crawls.last, base)
    }
    crawls.foreach(c => Crawls.wipe(c.workDir))
  }

  def crawlWorkload(spark: SparkSession, spec: Crawls.Spec, seed: Long,
      seconds: Double, trace: Boolean, base: String,
      raw: mutable.Map[String, Any]): Unit = {
    // set-up = input generation (repeated; setup_s takes the median) plus
    // one warm-up crawl, whose time setup_s adds once
    val setups = (0 until (if (trace) 1 else setupRepeats)).map { _ =>
      secsOf(Crawls.generate(spark, seed, spec, base))
    }
    raw("setup_s") = setups.map(_._2)
    val in = setups.last._1
    if (!trace) {
      raw("warmup_s") = secsOf(warmUp(spark, spec, in, s"$base/warm"))._2
      Crawls.wipe(s"$base/warm")
    }
    measure(spark, spec, in, seconds, trace, base, raw)(_ => (Map.empty, 0.0))
  }

  // ---------------- query suite ----------------

  // documents and events at the row counts of the repository's sf0.1
  // test tables, whose shape Load.writeSuiteTables follows; embeddings at
  // sf0.01's count, as the DuckDB oracles of the four LSH leaves are
  // quadratic in it (at sf0.1's 2,000 they alone took 82 s of the check
  // on a 4-core host, more than a run has)
  val suiteDocs = 5000
  val suiteVecs = 500
  val suiteEvents = 100000

  /** One unit = one pass over the leaves, then one small politeness-limited
    * crawl (the engine's small-round regime). suite_s is the pass alone. */
  def suiteWorkload(spark: SparkSession, seed: Long, seconds: Double,
      trace: Boolean, base: String, raw: mutable.Map[String, Any]): Unit = {
    val data = s"$base/data"
    val spec = Crawls.polite
    // set-up writes the tables and reads each back once; no warm-up crawl:
    // the pass's leaves warm Spark before the unit's crawl runs
    val setups = (0 until (if (trace) 1 else setupRepeats)).map { _ =>
      secsOf {
        Load.writeSuiteTables(spark, seed, data, suiteDocs, suiteVecs, suiteEvents)
        Seq("documents", "embeddings", "events").foreach(t =>
          spark.read.parquet(s"$data/$t.parquet").count())
        Crawls.generate(spark, seed, spec, base)
      }
    }
    raw("setup_s") = setups.map(_._2)
    val out = s"$base/out"
    raw("data_dir") = data
    raw("suite_out") = out
    Files.writeString(Paths.get(base, "oracle_sql.json"), Json(SparkEntry.oracleSql))
    val leaves = Suite.order(seed)
    raw("leaf_order") = leaves
    measure(spark, spec, setups.last._1, seconds, trace, base, raw) { i =>
      val runs = Suite.pass(spark, data, leaves)
      if (i == 0) raw("outputs_s") = secsOf(Suite.writeOutputs(spark, runs, out))._2
      val wall = runs.map(_.secs).sum
      (Map("wall_s" -> wall,
        "leaves" -> runs.map(r => r.name -> r.secs).toMap,
        "modules" -> runs.groupBy(r => Suite.moduleOf(r.name).get)
          .map { case (m, rs) => m -> rs.map(_.secs).sum },
        "errors" -> runs.flatMap(r => r.error.map(r.name -> _)).toMap), wall)
    }
  }
}

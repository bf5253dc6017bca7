package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.CrawlEngine
import graft.model.{CrawlConfig, Doc, RobotsRule, Seed}
import graft.oracle.Oracle
import graft.router.{Handler, Router}

/** Crawls the benchmark drives itself. A run is one closed-loop client:
  * it starts one `CrawlEngine.run`, waits for it, and starts the next
  * until the measuring time is used up.
  */
object Crawls {

  final case class Spec(
      name: String,
      shape: Load.CrawlShape,
      cfg: CrawlConfig,
      /** corpus as a bucketed catalog table (the engine's co-located fetch
        * path) instead of a parquet directory */
      bucketedTable: Boolean,
      /** compare the whole trace with the oracle's, not only the count
        * and digest (small crawls) */
      fullTrace: Boolean)

  /** BFS crawl with unbounded budgets and the bloom prefilter. Its rounds
    * (6k-27k URLs) are far below the engine's heavy-round threshold
    * (fusedCheckpointMin, 500k frontier candidates), which a run's time
    * cannot reach on 4 cores; the threshold is set to 0 so that every
    * round takes the heavy rounds' checkpoint path, the scheduled table
    * written once in the fetcher's join layout. bigRound (1M) stays
    * unreached. */
  val bulk = Spec("bulk_crawl",
    Load.CrawlShape(nDocs = 60000L, nHosts = 1000, hotHostPct = 20,
      maxLinks = 8, nSeeds = 6000, delayEvery = 0,
      hostBudget = Int.MaxValue),
    CrawlConfig(maxRounds = 3, maxDepth = 4, defaultHostBudget = Int.MaxValue,
      frontierPartitions = 4, bloomShards = 8, bloomExpectedItems = 120000L,
      lineageStats = false, trackPath = false, fusedCheckpointMin = 0L),
    bucketedTable = true, fullTrace = false)

  /** Small politeness-limited crawl: 40 hosts, budget 10 per host and
    * round, a crawl delay on a quarter of the hosts, a disallow rule on a
    * fifth, and 800 seeds, so every round is budget-bound (a few hundred
    * URLs) behind a backlog of carried candidates. query_suite's crawl. */
  val polite = Spec("polite",
    Load.CrawlShape(nDocs = 5000L, nHosts = 40, hotHostPct = 0,
      maxLinks = 6, nSeeds = 800, delayEvery = 4, hostBudget = 10),
    CrawlConfig(maxRounds = 2, maxDepth = 100, defaultHostBudget = 10,
      frontierPartitions = 4, bloomShards = 8, bloomExpectedItems = 100000L,
      lineageStats = false, trackPath = false),
    bucketedTable = false, fullTrace = true)

  val router: Router = Router(Map("page" -> Handler.linkFollower()),
    fallback = Handler.linkFollower())

  /** Generated inputs of one run. */
  final case class Inputs(docs: DataFrame, seeds: Seq[Seed],
      robots: Seq[RobotsRule]) {
    def robotsDs(spark: SparkSession): Dataset[RobotsRule] = {
      import spark.implicits._
      robots.toDS()
    }
  }

  /** Generate and store the corpus (set-up; the program only reads it). */
  def generate(spark: SparkSession, seed: Long, spec: Spec, base: String): Inputs = {
    val corpus = Load.crawlCorpus(spark, seed, spec.shape)
    val docs =
      if (spec.bucketedTable) {
        spark.sql("DROP TABLE IF EXISTS bench_corpus")
        corpus.repartition(spec.cfg.frontierPartitions).write.mode("overwrite")
          .bucketBy(16, "doc_id").sortBy("doc_id")
          .format("parquet").saveAsTable("bench_corpus")
        spark.table("bench_corpus")
      } else {
        val p = s"$base/corpus"
        corpus.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
    Inputs(docs, Load.seeds(spark, seed, spec.shape),
      Load.robots(seed, spec.shape))
  }

  /** One finished crawl as measured from outside. */
  final case class Crawl(
      workDir: String,
      wallS: Double,
      scheduled: Long,
      startMs: Long,
      /** (round, manifest-commit end ms, manifest interval ms, engine
        * wallMs, scheduled rows) */
      rounds: Seq[(Int, Long, Long, Long, Long)])

  /** Manifest commit times (epoch ms) by round; the commit is an atomic
    * rename of a file written just before, so its mtime is the commit. */
  def manifestTimes(workDir: String): Seq[(Int, Long)] = {
    val m = Paths.get(workDir, "_manifests")
    if (!Files.isDirectory(m)) Seq.empty
    else {
      val s = Files.list(m)
      try s.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("round-") && n.endsWith(".json")) {
          val r = n.stripPrefix("round-").stripSuffix(".json").toInt
          val t = Files.getLastModifiedTime(p).toInstant
          Some(r -> (t.getEpochSecond * 1000L + t.getNano / 1000000L))
        } else None
      }.toSeq.sortBy(_._1)
      finally s.close()
    }
  }

  def runCrawl(spark: SparkSession, spec: Spec, in: Inputs, workDir: String,
      cfg: CrawlConfig): Crawl = {
    val robots = in.robotsDs(spark)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = CrawlEngine.run(spark, in.docs, in.seeds, robots, router, cfg,
      workDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val ends = manifestTimes(workDir)
    val byRound = r.metrics.map(m => m.round -> m).toMap
    var prev = startMs
    val rounds = ends.map { case (round, end) =>
      val m = byRound(round)
      val row = (round, end, end - prev, m.wallMs, m.scheduledRows)
      prev = end
      row
    }
    Crawl(workDir, wall, r.totalScheduled, startMs, rounds)
  }

  // ---------- output check (never timed) ----------

  /** Engine-mode oracle trace for these inputs. */
  def oracle(spark: SparkSession, spec: Spec, in: Inputs): Seq[Oracle.TraceRow] = {
    import spark.implicits._
    val docs = in.docs.as[Doc].collect().iterator
      .map(d => d.doc_id -> d.spans).toMap
    Oracle.crawlEngineMode(docs, in.seeds, in.robots, spec.cfg.maxDepth,
      spec.cfg.maxRounds, spec.cfg.defaultHostBudget, dedup = true,
      msPerRound = spec.cfg.msPerRound)
  }

  private def digestCols(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(col("seq"), col("url"), col("depth"),
        col("parentSeq"))).as("x"))

  /** Compare one crawl's trace with the oracle: scheduled count and an
    * order-independent digest of (seq, url, depth, parentSeq), plus the
    * rows themselves for small crawls; None when equal, else a short
    * description of the mismatch. */
  def check(spark: SparkSession, spec: Spec, c: Crawl,
      want: Seq[Oracle.TraceRow]): Option[String] = {
    import spark.implicits._
    val trace = spark.read.parquet(
      Files.list(Paths.get(c.workDir, "trace")).iterator().asScala
        .map(_.toString).filter(_.contains("round=")).toSeq: _*)
    val g = digestCols(trace).head()
    val w = digestCols(want.map(t => (t.seq, t.url, t.depth, t.parentSeq))
      .toDF("seq", "url", "depth", "parentSeq")).head()
    lazy val rowsEqual = trace.select(col("seq"), col("url"), col("depth"),
      col("parentSeq")).as[(Long, String, Int, Long)].collect().sortBy(_._1)
      .toSeq == want.map(t => (t.seq, t.url, t.depth, t.parentSeq))
    if (g.getLong(0) != w.getLong(0) || g.getLong(1) != w.getLong(1) ||
        c.scheduled != want.size.toLong)
      Some(s"${spec.name}: scheduled ${c.scheduled} / digest " +
        s"${g.getLong(1)} vs oracle ${want.size} / ${w.getLong(1)}")
    else if (spec.fullTrace && !rowsEqual)
      Some(s"${spec.name}: trace rows differ from the oracle's")
    else None
  }

  // ---------- helpers ----------

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }
  }

  /** Files written for each round (part files under `round=<k>` dirs). */
  def filesPerRound(workDir: String): Map[Int, Int] = {
    val p = Paths.get(workDir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        })
        .flatMap(f => f.iterator().asScala.map(_.toString)
          .find(_.startsWith("round=")).map(_.stripPrefix("round=").toInt))
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      finally s.close()
    }
  }

  def wipe(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
        .asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}

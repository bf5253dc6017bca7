package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.canon.Canon
import graft.dedup.Seen
import graft.engine.{CrawlEngine, Fetcher, TableIO}
import graft.politeness.Politeness

/** Replays one committed round of a finished crawl, layer by layer.
  *
  * The round's input is read back from the crawl's work dir (the previous
  * round's frontier, the seen deltas and the crawl-delay ledger of the
  * previous manifest). Each public function the round uses is then timed
  * on its own, its output forced through the noop sink; the input of the
  * next step is materialized untimed in between, so each timing covers
  * exactly one layer call.
  *
  * The replay takes the engine's path for the round, as CrawlEngine.run
  * decides it from the same counts: the single-partition head for tiny
  * rounds (singlePartitionMax), one bloom filter per earlier round's seen
  * delta, the crawl-delay split after the robots filter, broadcast seq
  * offsets, and the scheduled-table checkpoint the round size selects
  * (fused with the fetcher's layout from fusedCheckpointMin up, else a
  * persist below memCheckpointMax, else a round-table write). It assumes
  * the engine's state for crawls of this size: no seen compaction, no
  * bucketed seen mirror, a driver-side delay ledger, and no bigRound.
  */
object Replay {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def round(spark: SparkSession, spec: Crawls.Spec, in: Crawls.Inputs,
      workDir: String, round: Int, nextSeq: Long,
      scratch: String): Map[String, Double] = {
    require(round >= 1, "round 0 reads seeds, not a work-dir table")
    val cfg = spec.cfg
    require(cfg.compactSeenEvery <= 0 || round < cfg.compactSeenEvery,
      "replay does not model seen compaction")
    require(cfg.bucketedSeenMin < 0 || nextSeq < cfg.bucketedSeenMin,
      "replay does not model the bucketed seen mirror")
    require(in.robots.count(_.crawlDelayMs > 0) <= cfg.distributedDelayHosts,
      "replay does not model the distributed delay ledger")
    val out = mutable.LinkedHashMap.empty[String, Double]
    val pinned = mutable.Buffer.empty[DataFrame]
    def pin(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      pinned += p
      (p, p.count())
    }
    try {
      val input = TableIO.readRound(spark, workDir, "frontier", round - 1)
      out("replay.scan_ms") = ms(noop(input))._2
      val (frontier, nCand) = pin(input)
      require(nCand < 1000000L, "replay does not model bigRound")
      val cand =
        if (cfg.singlePartitionMax > 0 && nCand < cfg.singlePartitionMax &&
            nextSeq < cfg.singlePartitionMax) frontier.coalesce(1)
        else frontier
      val seen = TableIO.readDeltas(spark, workDir, "seen", round - 1)
      pin(seen)

      val canonMs = ms(noop(cand.select(Canon.canonicalize(col("url")).as("c"))
        .select(col("c"), Canon.urlHash(col("c")), Canon.host(col("c")))))._2
      out("canon.canonicalize_ms") = canonMs
      out("canon.rows_per_s") = nCand / math.max(canonMs / 1e3, 1e-9)

      // the engine's bloom ledger: one member per earlier round that
      // scheduled rows, sized to that round's seen delta
      val deltas = (0 until round).map(k =>
        pin(TableIO.readRound(spark, workDir, "seen", k))).filter(_._2 > 0)
      val (members, buildMs) = ms(deltas.map { case (d, n) =>
        spark.sparkContext.broadcast(Seen.buildShardedBlooms(d,
          cfg.bloomShards, math.max(n / cfg.bloomShards, 1000L), cfg.bloomFpp))
      })
      out("dedup.filter_build_ms") = buildMs
      val (defNew, maybe) = Seen.bloomPrefilterMulti(cand, members,
        cfg.bloomShards)
      out("dedup.bloom_probe_ms") = ms(noop(defNew.unionByName(maybe)))._2
      val (maybeP, nMaybe) = pin(maybe)
      out("dedup.bloom_pass_ratio") = nMaybe.toDouble / math.max(nCand, 1L)
      out("dedup.exact_antijoin_ms") =
        ms(noop(Seen.exactAntiJoin(maybeP, seen)))._2
      val (notSeen, _) = pin(defNew.unionByName(Seen.exactAntiJoin(maybeP, seen)))
      val first = Seen.firstOccurrence(notSeen,
        struct(col("parentSeq"), col("emissionIdx")))
      out("dedup.first_occurrence_ms") = ms(noop(first))._2
      val (deduped, nNew) = pin(first)
      out("dedup.new_ratio") = nNew.toDouble / math.max(nCand, 1L)

      // robots, then the crawl-delay split on the ledger the previous
      // round's manifest committed
      val robots = in.robotsDs(spark)
      val allowed0 = Politeness.robotsFilter(deduped, robots)
      val delayedNow = TableIO.readLedgers(workDir, round - 1)._2
        .filter(_._2 > round).keys.toSeq
      val (allowedDf, blockedDf) =
        if (delayedNow.isEmpty) (allowed0, allowed0.limit(0))
        else (allowed0.filter(!col("host").isin(delayedNow: _*)),
          allowed0.filter(col("host").isin(delayedNow: _*)))
      out("politeness.robots_filter_ms") =
        ms(noop(allowedDf.unionByName(blockedDf)))._2
      val (allowed, nAllowed) = pin(allowedDf)
      val (_, nBlocked) = pin(blockedDf)
      val (under, over) = Politeness.budgetRank(allowed, cfg.defaultHostBudget)
      out("politeness.budget_rank_ms") = ms(noop(under.unionByName(over)))._2
      val (underP, _) = pin(under)
      val (_, nOver) = pin(over)
      out("politeness.carried_ratio") =
        (nOver + nBlocked).toDouble / math.max(nAllowed + nBlocked, 1L)

      val seqDf = CrawlEngine.assignSeq(
        underP.filter(col("depth") <= cfg.maxDepth), nextSeq)
      out("engine.assign_seq_ms") = ms(noop(seqDf))._2
      val (seqP, nSched) = pin(seqDf)

      val fetcher = Fetcher.auto(in.docs, autoBuckets = cfg.frontierPartitions)
      try {
        // the round's scheduled-table checkpoint, the kind the engine picks
        val ckPath = TableIO.roundPath(scratch, "scheduled", round)
        val fused = cfg.fusedCheckpointMin >= 0 && !cfg.lineageStats &&
          nCand >= cfg.fusedCheckpointMin
        val (scheduled, ckMs) = ms {
          if (fused) fetcher.checkpointScheduled(seqP, ckPath).get._1
          else if (cfg.memCheckpointMax >= 0 && !cfg.lineageStats &&
              nCand < cfg.memCheckpointMax)
            pin(seqP.select(seqP.columns.map(col): _*))._1
          else {
            TableIO.writeRound(seqP, scratch, "scheduled", round, "urlHash",
              cfg.frontierPartitions, withStats = false)
            TableIO.readRound(spark, scratch, "scheduled", round)
          }
        }
        out("engine.checkpoint_ms") = ckMs

        val fetchDf = fetcher.fetch(scheduled, nSched)
        out("engine.fetch_ms") = ms(noop(fetchDf))._2
        val (fetched, nFetched) = pin(fetchDf)
        val ok = fetched.filter(col("status") === 200).count()
        out("engine.fetch_ok_ratio") = ok.toDouble / math.max(nFetched, 1L)

        val routedDf = Crawls.router(fetched)
        out("router.route_ms") = ms(noop(routedDf))._2
        val (routed, _) = pin(routedDf)

        // the round's durable sinks: trace rows and the seen delta
        val sinkMs = ms {
          TableIO.writeRoundLite(routed.select(col("seq"), col("url"),
            col("canonical"), col("urlHash"), col("host"), col("tag"),
            col("depth"), col("parentSeq"), col("status")),
            scratch, "trace", round, "urlHash", 1, nSched)
          TableIO.writeRound(seqP.select(col("urlHash"), col("canonical"),
            col("seq").as("firstSeq"), lit(round).as("round")),
            scratch, "seen", round, "urlHash", 1, withStats = false)
        }._2
        out("engine.sink_write_ms") = sinkMs
        val manifest = TableIO.readManifest(workDir, round)
        out("engine.commit_ms") =
          ms(TableIO.writeManifest(scratch, round, manifest))._2
      } finally fetcher.close()
      members.foreach(_.destroy())
      out.toMap
    } finally pinned.foreach(_.unpersist(blocking = true))
  }
}

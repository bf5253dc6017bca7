package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{RobotsRule, Seed}

/** Seeded load generation. Every pseudo-random choice is Spark's
  * `xxhash64(seed, salt, x)`, so a seed fixes every table exactly, on the
  * driver and in executors alike. The program under test only ever sees
  * the generated tables.
  */
object Load {

  /** Shape of a synthetic crawl corpus. Documents are
    * `http://h<host>.test/p/<i>` for i < nDocs, `hotHostPct` % of them on
    * host 0; each links to up to `maxLinks` other documents, and
    * `danglingPct` % of links point past the corpus (fetches that find no
    * document). Robots rules disallow `/p/1` on one host in
    * `disallowEvery` and set a crawl delay on one in `delayEvery` (0: none). */
  final case class CrawlShape(
      nDocs: Long,
      nHosts: Int,
      hotHostPct: Int,
      maxLinks: Int,
      nSeeds: Int,
      delayEvery: Int,
      hostBudget: Int) {
    val danglingPct = 3
    val disallowEvery = 5
  }

  private def h(seed: Long, salt: Long, x: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), x), lit(1L << 40))

  private def hostIdC(seed: Long, s: CrawlShape, i: Column): Column =
    when(h(seed, 1, i) % 100 < s.hotHostPct, lit(0L))
      .otherwise(h(seed, 2, i) % s.nHosts)

  private def urlC(seed: Long, s: CrawlShape, i: Column): Column =
    concat(lit("http://h"), hostIdC(seed, s, i).cast("string"),
      lit(".test/p/"), i.cast("string"))

  /** docs(doc_id, spans) for the crawl engine. */
  def crawlCorpus(spark: SparkSession, seed: Long, s: CrawlShape): DataFrame = {
    val i = col("id")
    val spanT = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    val nText = lit(1L) + h(seed, 3, i) % 3
    val nMedia = h(seed, 4, i) % 2
    val outDeg = h(seed, 5, i) % (s.maxLinks + 1)
    def target(e: Column): Column = {
      val k = i * 64 + e
      val t = h(seed, 6, k) % s.nDocs
      when(h(seed, 7, k) % 100 < s.danglingPct, t + s.nDocs).otherwise(t)
    }
    val texts = transform(sequence(lit(0L), nText - 1), t =>
      struct(lit("text").as("kind"),
        concat(lit("t"), h(seed, 8, i * 4 + t).cast("string")).as("text"),
        lit(null).cast("string").as("media_ref"), lit(0).as("offset")))
    val media = transform(sequence(lit(0L), nMedia - 1), m =>
      struct(lit("media").as("kind"), lit("alt").as("text"),
        concat(lit("m://b/"), h(seed, 9, i * 2 + m).cast("string"))
          .as("media_ref"), lit(0).as("offset")))
    val links = transform(sequence(lit(0L), outDeg - 1), e =>
      struct(lit("link").as("kind"), concat(lit("a"), e.cast("string")).as("text"),
        urlC(seed, s, target(e)).as("media_ref"), lit(0).as("offset")))
    val none = array().cast(spanT)
    val all = concat(texts,
      when(nMedia > 0, media).otherwise(none),
      when(outDeg > 0, links).otherwise(none))
    spark.range(s.nDocs).select(urlC(seed, s, i).as("doc_id"),
      transform(all, (sp, o) => struct(sp("kind").as("kind"),
        sp("text").as("text"), sp("media_ref").as("media_ref"),
        o.cast("int").as("offset"))).as("spans"))
  }

  /** Seeds: nSeeds distinct documents, in registration order. */
  def seeds(spark: SparkSession, seed: Long, s: CrawlShape): Seq[Seed] = {
    val off = (seed.abs * 7919L) % s.nDocs
    val ids = (0 until s.nSeeds).map(j => (j * 97L + off) % s.nDocs)
    require(ids.distinct.size == ids.size, "seed ids must be distinct")
    val urls = spark.createDataFrame(ids.zipWithIndex.map { case (d, j) =>
      (d, j) }).toDF("id", "j")
      .select(col("j"), urlC(seed, s, col("id")).as("u"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    urls.map { case (j, u) => Seed(u, "page", j) }.toSeq
  }

  /** One rule per host: `/p/1` disallowed on exactly one host in
    * `disallowEvery`, a 2-round crawl delay on exactly one in `delayEvery`;
    * the seed picks which hosts (a seeded rotation of host ids). */
  def robots(seed: Long, s: CrawlShape): Seq[RobotsRule] = {
    val rot = new scala.util.Random(seed).nextInt(s.nHosts)
    def every(host: Int, k: Int, phase: Int) =
      k > 0 && (host + rot + phase) % k == 0
    (0 until s.nHosts).map { host =>
      RobotsRule(s"h$host.test",
        if (every(host, s.disallowEvery, 0)) Seq("/p/1") else Seq.empty,
        crawlDelayMs = if (every(host, s.delayEvery, 1)) 2000L else 0L,
        hostBudget = s.hostBudget)
    }.sortBy(_.host)
  }

  // ---- query-suite tables (documents, embeddings, events) ----

  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** The three tables the declared leaves read, at `docs` documents,
    * `vecs` 64-d unit embeddings and `events` events. Documents are
    * 10-100 words from a 30-word vocabulary; about 5% repeat an earlier
    * document's text with " dup" appended (near-duplicates). */
  def writeSuiteTables(spark: SparkSession, seed: Long, dir: String,
      docs: Int, vecs: Int, events: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val texts = new Array[String](docs)
    val docRows = (0 until docs).map { d =>
      val t =
        if (d > 10 && rnd.nextInt(100) < 5) texts(rnd.nextInt(d)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      texts(d) = t
      (d.toLong, t, langs(rnd.nextInt(langs.size)), s"src${d % 20}",
        t.length.toLong)
    }
    docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecRows = (0 until vecs).map { v =>
      val g = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(g.map(x => x * x).sum)
      (v.toLong, g.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    vecRows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    var ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(
      java.time.ZoneOffset.UTC) * 1000000L
    val span = 30L * 86400L * 1000000L / math.max(events, 1)
    val users = math.max(events / 66, 10)
    val evRows = (0 until events).map { e =>
      ts += (-math.log(1.0 - rnd.nextDouble()) * span).toLong + 1L
      (e.toLong, ts, rnd.nextInt(users).toLong,
        eventTypes(rnd.nextInt(eventTypes.size)),
        math.round(rnd.nextDouble() * 50000.0) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    // timestamp without time zone, as pandas-written parquet carries it
    evRows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}

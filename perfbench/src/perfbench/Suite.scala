package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** The leaves of the query_suite workload: the declared
  * `SparkEntry.queries` leaves, one pass in a seed-chosen order, over
  * generated tables. A leaf's time covers building its plan and collecting
  * its rows; writing the rows out for the DuckDB check happens after the
  * clock stops.
  */
object Suite {

  /** The module a leaf exercises, for the leaves of the modules no crawl
    * touches; None for the crawl-side leaves (engine, canon, dedup,
    * politeness), which the pass leaves out: those layers are measured
    * through the crawls, and their operator leaves do not fit the time a
    * run may take on 4 cores. */
  def moduleOf(leaf: String): Option[String] = {
    val byPrefix = Seq(
      "ann_" -> "sim", "ivf_" -> "sim", "embed_" -> "sim",
      "graph_" -> "graph", "pagerank" -> "graph", "cc_labels" -> "graph",
      "media_" -> "multimodal",
      "events_" -> "events",
      "token_" -> "text", "lang_id" -> "text", "quality" -> "text",
      "pipeline_corpus" -> "text", "select_attrs" -> "text",
      "extract_links" -> "text", "html_text" -> "text",
      "anchor_text" -> "text", "spans_text" -> "text")
    val n = leaf.stripPrefix("q_")
    byPrefix.collectFirst { case (p, m) if n.startsWith(p) => m }
  }

  /** The pass's leaves in a seeded order. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(SparkEntry.queries.keys.toSeq.sorted
      .filter(l => moduleOf(l).isDefined))

  final case class LeafRun(name: String, secs: Double,
      result: Option[(StructType, Array[Row])], error: Option[String])

  /** One pass over `leaves`, each timed from plan building to collected
    * rows. */
  def pass(spark: SparkSession, dataDir: String,
      leaves: Seq[String]): Seq[LeafRun] = {
    val fns = SparkEntry.queries
    leaves.map { name =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val res = scala.util.Try {
        val df = fns(name)(spark, dataDir)
        (df.schema, df.collect())
      }
      val secs = (System.nanoTime() - t0) / 1e9
      res match {
        case scala.util.Success(r) => LeafRun(name, secs, Some(r), None)
        case scala.util.Failure(e) => LeafRun(name, secs, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }
  }

  /** Write each leaf's rows to `outDir/<leaf>` for the DuckDB check
    * (untimed; a few writes at a time). */
  def writeOutputs(spark: SparkSession, runs: Seq[LeafRun], outDir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = runs.flatMap(r => r.result.map { case (schema, rows) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${r.name}")
        })
      })
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

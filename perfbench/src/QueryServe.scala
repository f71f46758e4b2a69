package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** Repeated passes over a fixed read-only mix of `SparkEntry.queries`;
  * the seed sets the query order within each pass. Set-up runs one pass
  * over the same corpus, which warms the JIT and code generation for
  * the same plans and data sizes as the timed passes. It writes no lake,
  * so the commit protocol is never on its path. Each distinct result a
  * query returns is saved once, outside the timed span, and checked
  * against the query's DuckDB oracle by the runner. */
final class QueryServe(run: Run) extends Workload(run) {
  import QueryServe._

  private val queries = graft.SparkEntry.queries
  private val results = mutable.LinkedHashMap.empty[(String, String), Int]
  private var pass = 0

  def generate(): Unit = {
    val missing = Mix.filterNot(queries.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry: ${missing.mkString(", ")}")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Mix.contains(k) }
    new java.io.File(s"${a.work}/results").mkdirs()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/results/oracle_sql.json"),
      mapper.writeValueAsString(oracle))
  }

  /** Order-insensitive digest of a result: its rows as sorted strings. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Id of this (query, result); a new result is saved for the oracle check. */
  private def resultId(name: String, df: DataFrame, rows: Array[Row]): Int =
    results.getOrElseUpdate((name, digest(rows)), {
      val id = results.size
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"${a.work}/results/r$id")
      id
    })

  private def query(sf: String)(name: String): Unit = {
    val (op, traced) = run.op()
    val fn = queries(name)
    val (res, ms) = run.timed(run.span(traced, "query", op) {
      val df = fn(spark, sf)
      if (traced) run.span(traced, "plans.plan", op)(df.queryExecution.executedPlan)
      (df, run.span(traced, "query.exec", op)(df.collect()))
    })
    // only the timed passes' results are checked
    val id = res.filter(_ => run.measuring).map { case (df, rows) => resultId(name, df, rows) }
      .getOrElse(-1)
    run.record(Op("query", ms, res.isDefined, traced,
      info = Map("name" -> name, "result" -> id, "pass" -> pass)))
  }

  private def onePass(sf: String): Unit = {
    new scala.util.Random(a.seed * 1000003L + pass).shuffle(Mix).foreach(query(sf))
    pass += 1
  }

  def setup(i: Int): Unit = onePass(a.sfDir)

  def measure(t0: Long): Unit = {
    val first = pass
    while (run.elapsed(t0) < a.seconds || pass - first < 2) onePass(a.sfDir)
    run.info("passes") = pass - first
    run.info("results") = results.map { case ((n, _), id) => Map("name" -> n, "id" -> id) }.toSeq
  }

  def check(): Unit = ()

  def layers(): Unit = {
    val L = run.layers
    L("plans.plan_ms") = med("plans.plan")(_.ms)
    val qs = run.tracer.closed("query")
    def per(f: Span => Double) = Stats.mean(qs.map(f))
    L("query.jobs") = per(_.work.jobs.toDouble)
    L("query.stages") = per(_.work.stages.toDouble)
    L("query.tasks") = per(_.work.tasks.toDouble)
    L("query.shuffle_bytes") = per(_.work.shuffleBytes.toDouble)
    L("query.spill_bytes") = per(_.work.spillBytes.toDouble)
    val byPass = run.ops.filter(o => o.kind == "query" && o.ok).groupBy(_.info("pass"))
    for ((cat, names) <- Categories)
      L(s"query.$cat.ms") = Stats.median(byPass.values.map(_.filter(o =>
        names.contains(o.info("name").toString)).map(_.ms).sum).toSeq)
  }
}

object QueryServe {
  val Categories: Seq[(String, Set[String])] = Seq(
    "olap" -> Set("q1_pricing_summary", "q3_top_unshipped", "q5_region_revenue",
      "q_topk_per_group", "q_window_running", "q_status_counts", "q_filter_pushdown",
      "q_distinct_users", "q_rollup", "q_semi_anti_join", "q_asof_join", "q_sessionize"),
    "dedup" -> Set("dedup_exact", "dedup_minhash_lsh", "dedup_simhash"),
    "text" -> Set("text_tfidf", "text_bm25", "chunk_documents", "quality_filter_pipeline"),
    "ann" -> Set("ann_topk_bruteforce", "ann_ivf"))
  val Mix: Seq[String] = Categories.flatMap(_._2.toSeq).sorted
}

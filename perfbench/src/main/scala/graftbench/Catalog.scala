package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftQuery, SparkEntry}

/** The catalog workload: a fixed list of `SparkEntry.catalog` queries over a
  * generated corpus. One untimed pass writes every result to parquet (the
  * warm-up, and the output run.py checks against the DuckDB oracle); timed
  * passes then repeat until `seconds` have passed, each query executing
  * its whole plan into the `noop` sink. */
object Catalog {

  /** The 17 query families of `SparkEntry.catalog`, in catalog order. */
  val Families: Seq[(String, Seq[GraftQuery])] = {
    import graft.functions._
    import graft.operators._
    Seq(
      "Relational" -> RelationalQueries.all, "Join" -> JoinQueries.all,
      "Window" -> WindowQueries.all, "Scalar" -> ScalarQueries.all,
      "Event" -> EventQueries.all, "Dedup" -> DedupQueries.all,
      "Cluster" -> ClusterQueries.all, "Similarity" -> SimilarityQueries.all,
      "Text" -> TextQueries.all, "Avro" -> AvroQueries.all,
      "Multimodal" -> MultimodalQueries.all, "Sql" -> SqlQueries.all,
      "Analytics" -> AnalyticsQueries.all, "Stat" -> StatQueries.all,
      "Curation" -> CurationQueries.all, "Selection" -> SelectionQueries.all,
      "Refine" -> RefineQueries.all)
  }

  /** The heavy queries whose own cost is reported per query. */
  val Heavy: Seq[String] = Seq("q141b_robust_outliers_approx", "q184_basket_affinity",
    "q231_dsir_importance", "q239_perplexity_buckets")

  /** One query or two per family, so every family runs: the four cheaper
    * queries without a DuckDB oracle, heavy queries where the family has
    * one the ROADMAP targets, an index serve query for the families that
    * hold the serve paths, and the family's cheapest query otherwise. */
  val Queries: Seq[String] = Seq(
    // no oracle (Event, Sql, Text)
    "q92_hll_rollup", "q73_approx_percentiles", "q141b_robust_outliers_approx",
    "q85_heavy_hitters",
    // heavy (Join, Selection, Refine)
    "q184_basket_affinity", "q231_dsir_importance", "q239_perplexity_buckets",
    // index serve (Dedup, Multimodal)
    "q283_simhash_postings_serve", "q287_chunk_store_takedown",
    // the other families
    "q01_scan_projection", "q25_window_frames", "q31_json_funcs", "q81_dedup_clusters",
    "q149_random_projection", "q49_avro_roundtrip", "q193_ab_readout",
    "q212_auc_ranking", "q226_pii_denylist_scrub")

  val WarmThreads = 3
  val MinPasses = 4

  /** Result schema (DDL) of each query without an oracle; its output is
    * checked to be non-empty with exactly this schema. */
  val NoOracleSchema: Map[String, String] = Map(
    "q92_hll_rollup" -> "week BIGINT,approx_users BIGINT,n_days BIGINT",
    "q73_approx_percentiles" -> "l_returnflag STRING,p25 DOUBLE,p50 DOUBLE,p75 DOUBLE,p95 DOUBLE",
    "q141b_robust_outliers_approx" ->
      "l_returnflag STRING,med DOUBLE,mad DOUBLE,n_outliers BIGINT,n_mild BIGINT,n BIGINT",
    "q85_heavy_hitters" -> "bigram STRING,est_n BIGINT")

  private def query(name: String): GraftQuery =
    SparkEntry.catalog.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown query $name"))

  /** Bytes under the engine's `graft*` temp dirs (its staged formats). */
  private def residentBytes(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) 0L
    else {
      val top = Files.list(tmp)
      try top.iterator().asScala.filter(_.getFileName.toString.startsWith("graft"))
        .map(Fs.sizeOf).sum
      finally top.close()
    }
  }

  /** Compare each query's parquet output with its DuckDB oracle using the
    * repository's own checker (`tools/check.py`); returns the queries that
    * did not pass, with the checker's reason. */
  private def oracleCheck(ctx: Run, corpus: String, checkDir: Path,
                          qs: Seq[GraftQuery]): Seq[(String, String)] = {
    val oracle = qs.map(q => s"${Json.str(q.name)}: ${Json.str(q.oracle.get)}")
      .mkString("{", ",\n", "}")
    Files.write(checkDir.resolve("oracle_sql.json"), oracle.getBytes(StandardCharsets.UTF_8))
    val cmd = Seq(ctx.python, ctx.repo.resolve("tools/check.py").toString, corpus,
      checkDir.toString) ++ qs.map(_.name)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    proc.waitFor()
    val passed = lines.filter(_.startsWith("PASS ")).map(_.drop(5).takeWhile(_ != ':')).toSet
    qs.map(_.name).filterNot(passed).map { n =>
      n -> lines.find(_.startsWith(s"FAIL $n:")).getOrElse(
        s"oracle check gave no verdict: ${lines.takeRight(3).mkString(" | ")}")
    }
  }

  def run(ctx: Run, corpus: String, checkDir: Path): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val qs = Queries.map(query)
    val failed = mutable.LinkedHashMap.empty[String, String]

    // Untimed pass: warm-up, and the output the oracle check reads. Its
    // cost is mostly first-execution code generation on the driver, so the
    // queries run `WarmThreads` at a time.
    Files.createDirectories(checkDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try qs.map { q =>
      pool.submit(() =>
        try {
          q.run(spark, corpus).write.mode("overwrite").parquet(checkDir.resolve(q.name).toString)
          None
        } catch { case e: Throwable => Some(q.name -> s"warm-up: $e") })
    }.foreach(_.get.foreach(failed += _))
    finally pool.shutdown()
    ctx.log("warm-up done")
    qs.filterNot(q => failed.contains(q.name)).filter(_.oracle.isEmpty).foreach { q =>
      val out = spark.read.parquet(checkDir.resolve(q.name).toString)
      val expected = NoOracleSchema.getOrElse(q.name, "<none recorded>")
      if (out.schema.toDDL != expected) failed(q.name) = s"schema ${out.schema.toDDL}"
      else if (out.isEmpty) failed(q.name) = "empty result"
    }
    val withOracle = qs.filter(q => q.oracle.isDefined && !failed.contains(q.name))
    ctx.uncounted("oracle check") {
      oracleCheck(ctx, corpus, checkDir, withOracle).foreach { case (k, v) => failed(k) = v }
    }

    // Timed passes.
    val trace = ctx.trace
    val jobs = ctx.jobStats
    final case class Exec(name: String, constructNs: Long, planNs: Long, execNs: Long)
    val passes = mutable.ArrayBuffer.empty[Seq[Exec]]
    val resident = mutable.ArrayBuffer.empty[Long]
    val persisted = mutable.ArrayBuffer.empty[Long]
    ctx.timedStarts()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    // A query that failed its warm-up or its check is one failed operation.
    var attempted = failed.size.toLong
    trace.span("passes", ctx.rootSpan) { root =>
      // At least MinPasses: the first is left out of the end-to-end
      // metrics (its plans still run partly in code the JIT is compiling),
      // and the median of the others is reported.
      while (passes.size < MinPasses || System.nanoTime() < deadline) {
        val pass = passes.size
        val execs = trace.span(s"pass $pass", root) { passSpan =>
          qs.filterNot(q => failed.contains(q.name)).flatMap { q =>
            attempted += 1
            try trace.span(q.name, passSpan) { qSpan =>
              def phase[T](p: String)(body: => T): (T, Long) = {
                val g = s"${q.name}/$p/$pass"
                if (trace.enabled) sc.setJobGroup(g, g)
                trace.span(p, qSpan) { id =>
                  jobs.foreach(_.groupSpan(g) = id)
                  val t0 = System.nanoTime()
                  val r = body
                  (r, System.nanoTime() - t0)
                }
              }
              val (df, constructNs) = phase("construct")(q.run(spark, corpus))
              val planNs = if (trace.enabled) phase("plan")(df.queryExecution.executedPlan)._2 else 0L
              val (_, execNs) = phase("exec")(df.write.format("noop").mode("overwrite").save())
              if (trace.enabled) {
                sc.clearJobGroup()
                resident += residentBytes()
                persisted += sc.getPersistentRDDs.size.toLong
              }
              ctx.log(f"pass $pass ${q.name}: construct ${constructNs / 1e6}%.0f ms, exec ${execNs / 1e6}%.0f ms")
              Some(Exec(q.name, constructNs, planNs, execNs))
            } catch {
              case e: Throwable =>
                failed(q.name) = s"pass $pass: $e"
                None
            }
          }
        }
        passes += execs
      }
    }
    ctx.timedEnds()

    // A query that failed anywhere is left out of every timing.
    val ok = passes.toSeq.map(_.filterNot(e => failed.contains(e.name)))
    val failedOps = attempted - ok.map(_.size).sum
    ctx.ops(attempted, failedOps, failed.toSeq.map { case (k, v) => s"$k: $v" })
    val warm = ok.drop(1)
    val lat = warm.flatten.map(e => (e.constructNs + e.planNs + e.execNs) / 1e6)
    val passSec = warm.map(p => p.map(e => e.constructNs + e.planNs + e.execNs).sum / 1e9)
    ctx.metric("run_s", Stats.median(passSec))
    ctx.metric("ops_per_s", warm.head.size / Stats.median(passSec))
    ctx.metric("latency_p50_ms", Stats.median(lat))

    if (trace.enabled) {
      sc.clearJobGroup()
      val stats = jobs.get
      org.apache.spark.graftbench.ListenerBus.drain(sc)
      val n = ok.size.toDouble
      def perPass(names: Set[String], f: Exec => Long): Double =
        ok.flatten.filter(e => names(e.name)).map(f).sum / 1e6 / n
      Families.foreach { case (fam, famQs) =>
        val names = famQs.map(_.name).toSet
        ctx.metric(s"catalog.$fam.construct_ms", perPass(names, _.constructNs))
        ctx.metric(s"catalog.$fam.exec_ms", perPass(names, _.execNs))
      }
      ctx.metric("catalog.plan_ms", perPass(Queries.toSet, _.planNs))
      val okNames = Queries.filterNot(failed.contains)
      def groups(phase: String, names: Seq[String]) =
        for (q <- names; p <- ok.indices) yield stats.group(s"$q/$phase/$p")
      def sum(ss: Seq[JobStats.Snapshot]) = ss.foldLeft(JobStats.Zero)(_ + _)
      ctx.metric("catalog.construct_jobs", sum(groups("construct", okNames)).jobs / n)
      val exec = sum(groups("construct", okNames) ++ groups("plan", okNames) ++
        groups("exec", okNames))
      exec.metrics.foreach { case (k, v) => ctx.metric(k, v / n) }
      Heavy.foreach { q =>
        val s = sum(groups("exec", Seq(q).filter(okNames.contains)))
        ctx.metric(s"catalog.$q.exec_ms", perPass(Set(q), _.execNs))
        ctx.metric(s"catalog.$q.shuffle_write_bytes", s.shuffleWrite / n)
        ctx.metric(s"catalog.$q.jobs", s.jobs / n)
      }
      ctx.metric("staging.resident_bytes", if (resident.isEmpty) 0.0 else resident.max.toDouble)
      ctx.metric("staging.persisted_rdds", if (persisted.isEmpty) 0.0 else persisted.max.toDouble)
    }
  }
}

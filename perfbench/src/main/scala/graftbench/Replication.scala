package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.avro._
import graft.streaming.{FileTopicSink, FileTopicSource, Replication => Pipeline}
import org.apache.avro.Schema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The replication workload: `graft.streaming.Replication` from topic A to
  * topic B over file topics and Confluent-style registries, in two phases
  * that each start a fresh pipeline.
  *
  *  - drain: a pre-staged backlog of 50k-record batches, each spread over
  *    one file per core, records alternating between two writer schema
  *    versions; timed until the backlog is committed.
  *  - open (the reference's shape, [[OpenShare]] of the run's seconds): an
  *    open loop. A generator thread moves one pre-written 500-record file
  *    into topic A every 1/[[OpenRate]] s; a record's latency runs from
  *    when its file was due until its batch's `commitBatch` into topic B
  *    returned (the batch is then read-committed visible).
  */
object Replication {

  /** Files moved into topic A per second by the open loop: about half the
    * 3 files/s the pipeline sustained with 500-record batches on 4 cores. */
  val OpenRate = 1.5
  val OpenBatch = 500
  /** Untimed batches run before timing starts (JIT, codegen, file caches). */
  val OpenWarmFiles = 6
  val OpenShare = 0.7
  val DrainBatch = 50000
  val DrainWarmBatches = 4
  /** Drain backlog records per second of the drain's share of the run:
    * about the rate the drain sustained on 4 cores. */
  val DrainRate = 100000

  val Subject = "events-value"
  private val v1Fields =
    """{"name":"event_id","type":"long"},{"name":"user_id","type":"long"},""" +
      """{"name":"event_type","type":"string"},{"name":"value","type":"double"},""" +
      """{"name":"ts","type":"long"},{"name":"props","type":"string"}"""
  /** Writer version 1; version 2 adds `channel` with a default, so a v2
    * reader fills "web" into every v1 record. */
  val V1: String = s"""{"type":"record","name":"Event","namespace":"bench","fields":[$v1Fields]}"""
  val V2: String = s"""{"type":"record","name":"Event","namespace":"bench","fields":[$v1Fields,""" +
    """{"name":"channel","type":"string","default":"web"}]}"""
  private val V1Cols = Seq("event_id", "user_id", "event_type", "value", "ts", "props")
  private val V2Cols = V1Cols :+ "channel"

  /** Deterministic records `first until first + n` for `seed`; `v1` marks
    * records written under version 1 (every other one in the drain). */
  def records(spark: SparkSession, seed: Long, first: Long, n: Long, mixed: Boolean): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    spark.range(first, first + n).select(
      col("id").as("event_id"),
      pmod(h(1), lit(150L)).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*),
        (pmod(h(2), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(h(3), lit(50000L)) / 100.0 + 0.01).as("value"),
      (lit(1704067200000000L) + col("id") * 259000L + pmod(h(4), lit(1000L))).as("ts"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"),
      element_at(array(lit("web"), lit("ios"), lit("android")),
        (pmod(h(6), lit(3L)) + 1).cast("int")).as("channel"),
      (lit(mixed) && col("id") % 2 === 0).as("v1"))
  }

  /** First record id of a run: distinct runs read distinct key ranges.
    * Bounded, so that any seed keeps `ts` within a long. */
  def firstId(seed: Long): Long = Math.floorMod(seed, 100000L) * 10000000L

  /** What a v2 reader should see for `records(...)`. */
  def expected(recs: DataFrame): DataFrame =
    recs.withColumn("channel", when(col("v1"), lit("web")).otherwise(col("channel")))
      .select(V2Cols.map(col): _*)

  private final case class Env(root: Path) {
    val topicA: String = root.resolve("topicA").toString
    val topicB: String = root.resolve("topicB").toString
    val checkpoint: String = root.resolve("checkpoint").toString
    val source = ConfluentRegistryRef(root.resolve("registryA").toString)
    val target = ConfluentRegistryRef(root.resolve("registryB").toString)
  }

  /** Register the writer schemas in the source registry. Another topic's
    * schema goes first, so source and target ids differ. Returns the
    * source ids of (v1, v2). */
  private def registerSource(env: Env, withV1: Boolean): (Long, Long) = {
    val reg = env.source.open()
    reg.register("other-value", Schema.create(Schema.Type.STRING))
    val v1 = if (withV1) reg.register(Subject, new Schema.Parser().parse(V1)) else -1L
    (v1, reg.register(Subject, new Schema.Parser().parse(V2)))
  }

  /** Wire-framed values of `recs` under the source ids, plus the `file`
    * each record goes to. */
  private def framed(recs: DataFrame, ids: (Long, Long), file: Column, magic: Byte): DataFrame = {
    val v1 = AvroFunctions.toAvroWireWithSchema(struct(V1Cols.map(col): _*), ids._1, V1, magic)
    val v2 = AvroFunctions.toAvroWireWithSchema(struct(V2Cols.map(col): _*), ids._2, V2, magic)
    recs.select(when(col("v1"), v1).otherwise(v2).as("value"), file.cast("long").as("file"))
  }

  /** Write one parquet file per distinct `file` value under `dir` and
    * return them by file index. */
  private def writeFiles(df: DataFrame, dir: Path): Map[Long, Path] = {
    df.repartition(col("file")).write.partitionBy("file").parquet(dir.toString)
    val parts = Files.list(dir)
    try parts.iterator().asScala.filter(_.getFileName.toString.startsWith("file=")).map { d =>
      val files = Files.list(d)
      val f = try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        finally files.close()
      require(f.size == 1, s"expected one file in $d, found ${f.size}")
      d.getFileName.toString.stripPrefix("file=").toLong -> f.head
    }.toMap
    finally parts.close()
  }

  private def move(from: Path, topicDir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(topicDir))
    Files.move(from, Paths.get(topicDir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Start the pipeline. Traced runs pass registries wrapped to count calls
    * under `<role>.source` and `<role>.target`. */
  private def start(ctx: Run, env: Env, role: String, filesPerTrigger: Int,
                    availableNow: Boolean): StreamingQuery = {
    val (src, tgt) =
      if (ctx.trace.enabled)
        (CountingRegistryRef(env.source, s"$role.source"), CountingRegistryRef(env.target, s"$role.target"))
      else (env.source, env.target)
    val sink = TimedSink(FileTopicSink(env.topicB), role, s"${env.topicB}/data")
    Pipeline.start(ctx.spark, FileTopicSource(env.topicA, filesPerTrigger), sink, env.checkpoint,
      Subject, src, tgt, "event_id", availableNow)
  }

  /** Spark counters so far, with every posted event counted. */
  private def stats(ctx: Run): Option[JobStats.Snapshot] = ctx.jobStats.map { j =>
    org.apache.spark.graftbench.ListenerBus.drain(ctx.spark.sparkContext)
    j.all
  }

  private def awaitCommits(role: String, n: Int, query: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 120000000000L
    while (SeamCounters.commitsOf(role).count(!_.redelivered) < n) {
      query.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline,
        s"only ${SeamCounters.commitsOf(role).size} of $n batches committed")
      Thread.sleep(2)
    }
  }

  /** Wait until the query has reported progress for `batchId` (its report
    * follows the sink commit), so the last batch is not missing from it. */
  private def awaitProgress(query: StreamingQuery, batchId: Long): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!query.recentProgress.exists(_.batchId >= batchId) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** The drain runs first: its batches also warm the JVM for the open
    * loop, whose latencies are the most sensitive to code still being
    * compiled. `run_s` and `ops_per_s` come from the drain alone, whose
    * length the engine sets; `latency_p50_ms` comes from the open loop,
    * whose length the generator's schedule sets. */
  def run(ctx: Run, root: Path): Unit = {
    val drained = drain(ctx, root.resolve("drain"))
    ctx.setupStarts()
    val open = openLoop(ctx, root.resolve("open"))
    ctx.ops(open.attempted + drained.attempted, open.failed + drained.failed,
      open.failures ++ drained.failures)
  }

  private def openLoop(ctx: Run, root: Path): Checked = {
    val spark = ctx.spark
    val env = Env(root)
    val ids = registerSource(env, withV1 = false)
    val timedFiles = math.max(2, math.round(ctx.seconds * OpenShare * OpenRate).toInt)
    val files = OpenWarmFiles + timedFiles
    val first = firstId(ctx.seed)
    val recs = records(spark, ctx.seed, first, files.toLong * OpenBatch, mixed = false)
    val pending = writeFiles(framed(recs, ids, (col("event_id") - first) / OpenBatch,
      env.source.magic), root.resolve("pending"))
    val role = "open"
    Files.createDirectories(Paths.get(env.topicA))
    // Every idle trigger reports progress in traced runs, so that the empty
    // trigger share can be read from the progress reports.
    if (ctx.trace.enabled) spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "0")
    val query = start(ctx, env, role, 1, availableNow = false)
    spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval")
    try {
      // Untimed warm-up: one file at a time, each waited for.
      (0 until OpenWarmFiles).foreach { k =>
        move(pending(k.toLong), env.topicA, s"$k.parquet")
        awaitCommits(role, k + 1, query)
      }
      // Timed: the generator moves file k at t0 + (k + jitter) / rate,
      // whatever the pipeline is doing. The seeded jitter (up to half a
      // period) spreads arrivals over the engine's polling cycle; at a
      // strict period every file of a run would wait the same part of it.
      val jitter = new java.util.Random(ctx.seed)
      val t0 = System.nanoTime() + 20000000L
      val due = (0 until timedFiles).map(k =>
        t0 + ((k + jitter.nextDouble() / 2) / OpenRate * 1e9).toLong)
      val moved = new Array[Long](timedFiles)
      val gen = new Thread(() => due.indices.foreach { k =>
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        move(pending((OpenWarmFiles + k).toLong), env.topicA, s"${OpenWarmFiles + k}.parquet")
        moved(k) = System.nanoTime()
      }, "open-loop-generator")
      ctx.timedStarts()
      val span = ctx.trace.span("open", ctx.rootSpan) { id =>
        gen.start()
        gen.join()
        awaitCommits(role, files, query)
        id
      }
      ctx.timedEnds()
      awaitProgress(query, SeamCounters.commitsOf(role).map(_.batchId).max)
      query.stop()

      // Which files each committed batch holds, from the data itself.
      val commits = SeamCounters.commitsOf(role).filterNot(_.redelivered)
        .map(c => c.batchId -> c).toMap
      val timed = spark.read.parquet(s"${env.topicB}/data")
        .groupBy(col("batch").cast("long"),
          ((col("key").cast("long") - first) / OpenBatch).cast("long").as("file"))
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter { case (b, f, _) => b >= OpenWarmFiles && f >= OpenWarmFiles && f < files }
      val lat = timed.toSeq.map { case (b, f, n) =>
        ((commits(b).endNs - due((f - OpenWarmFiles).toInt)) / 1e6, n)
      }
      Stats.weightedPercentile(lat, 0.5).foreach(ctx.metric("latency_p50_ms", _))
      Stats.weightedPercentile(lat, 0.99).foreach(ctx.metric("open.latency_p99_ms", _))
      // Each warm-up file was its own batch, so batches from OpenWarmFiles
      // on are the timed ones.
      val timedBatches = commits.keySet.filter(_ >= OpenWarmFiles)
      val runS = (timedBatches.map(commits(_).endNs).max - t0) / 1e9
      val checked = check(ctx, env,
        expected(recs.filter(col("event_id") >= first + OpenWarmFiles.toLong * OpenBatch)),
        ids, minBatch = OpenWarmFiles, attempted = timedFiles.toLong * OpenBatch)
      if (ctx.trace.enabled) {
        layerMetrics(ctx, env, query, role, timedBatches, commits, runS, span)
        ctx.metric("open.generator.late_max_ms", moved.indices.map(k => (moved(k) - due(k)) / 1e6).max)
      }
      checked
    } finally if (query.isActive) query.stop()
  }

  private def drain(ctx: Run, root: Path): Checked = {
    val spark = ctx.spark
    val env = Env(root)
    val ids = registerSource(env, withV1 = true)
    val cores = Runtime.getRuntime.availableProcessors()
    val batches = math.max(2, math.round(ctx.seconds * (1 - OpenShare) * DrainRate / DrainBatch).toInt)
    val perFile = DrainBatch / cores
    val first = firstId(ctx.seed)
    val recs = records(spark, ctx.seed, first, batches.toLong * DrainBatch, mixed = true)
    val magic = env.source.magic
    // Untimed warm-up batches through their own topic pair.
    val warmEnv = Env(root.resolve("warm"))
    val warm = DrainWarmBatches * DrainBatch
    registerSource(warmEnv, withV1 = true)
    writeFiles(framed(records(spark, ctx.seed + 1, first - warm, warm, mixed = true),
      ids, (col("event_id") - first + warm) / perFile, magic), root.resolve("warm-pending"))
      .foreach { case (k, p) => move(p, warmEnv.topicA, s"$k.parquet") }
    start(ctx, warmEnv, "drain-warm", cores, availableNow = true).awaitTermination()
    writeFiles(framed(recs, ids, (col("event_id") - first) / perFile, magic), root.resolve("pending"))
      .foreach { case (k, p) => move(p, env.topicA, s"$k.parquet") }

    val role = "drain"
    val before = stats(ctx)
    ctx.timedStarts()
    val t0 = System.nanoTime()
    val (query, span) = ctx.trace.span("drain", ctx.rootSpan) { id =>
      val q = start(ctx, env, role, cores, availableNow = true)
      q.awaitTermination()
      (q, id)
    }
    ctx.timedEnds()
    val after = stats(ctx)
    val commits = SeamCounters.commitsOf(role).filterNot(_.redelivered).sortBy(_.endNs)
    val perBatch = spark.read.parquet(s"${env.topicB}/data").groupBy(col("batch").cast("long"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ends = t0 +: commits.map(_.endNs)
    val intervals = commits.indices.map(i => ((ends(i + 1) - ends(i)) / 1e6,
      perBatch.getOrElse(commits(i).batchId, 0L)))
    val runS = (commits.last.endNs - t0) / 1e9
    ctx.metric("run_s", runS)
    ctx.metric("ops_per_s", perBatch.values.sum / runS)
    Stats.weightedPercentile(intervals, 0.5).foreach(ctx.metric("drain.batch_p50_ms", _))
    val checked = check(ctx, env, expected(recs), ids, minBatch = 0L,
      attempted = batches.toLong * DrainBatch)
    if (ctx.trace.enabled) {
      layerMetrics(ctx, env, query, role, commits.map(_.batchId).toSet,
        commits.map(c => c.batchId -> c).toMap, runS, span)
      for (b <- before; a <- after) (a - b).metrics.foreach { case (k, v) => ctx.metric(k, v) }
      codecMetrics(ctx, env, ids)
    }
    checked
  }

  /** Result of an output check: operations attempted and failed, and why. */
  private final case class Checked(attempted: Long, failed: Long, failures: Seq[String])

  /** The output checks: every record arrived once, keyed by its event_id,
    * decoding (under the target's id) to exactly the generator's record;
    * the target registry holds both subjects. Mismatches count as failed
    * operations. */
  private def check(ctx: Run, env: Env, want: DataFrame, ids: (Long, Long), minBatch: Long,
                    attempted: Long): Checked = {
    val spark = ctx.spark
    val targetReg = env.target.open()
    val targetId = targetReg.latest(Subject).map(_._1).getOrElse(-1L)
    // One pass: topic B grouped by key, full-outer-joined to the records
    // the generator made.
    val got = spark.read.parquet(s"${env.topicB}/data").filter(col("batch").cast("long") >= minBatch)
      .select(col("key"), AvroFunctions.fromAvroWire(col("value"), V2, env.target).as("r"),
        (hex(substring(col("value"), 1, 1)) === "00" &&
          conv(hex(substring(col("value"), 2, 4)), 16, 10).cast("long") === targetId).as("frame_ok"))
      .groupBy("key").agg(count(lit(1)).as("n"), first("r").as("r"),
        min(col("frame_ok").cast("int")).as("frame_ok"))
    val gen = want.select(col("event_id").cast("string").as("key"),
      struct(V2Cols.map(col): _*).as("w"))
    val c = got.join(gen, Seq("key"), "full_outer").agg(
      count(when(col("r.event_id").cast("string") =!= col("key"), 1)),
      count(when(col("frame_ok") === 0, 1)),
      coalesce(sum(when(col("n") > 1, col("n") - 1)), lit(0L)),
      count(when(col("n").isNull, 1)),
      count(when(col("w").isNull, 1)),
      count(when(col("n").isNotNull && col("w").isNotNull && !(col("r") <=> col("w")), 1)))
      .head()
    val Seq(badKey, badFrame, dupKeys, missing, extra, badValue) = (0 until 6).map(c.getLong)
    val failed = math.min(attempted, badKey + badFrame + dupKeys + missing + extra + badValue)
    val problems = Seq(
      s"$badKey keys differ from value.event_id" -> badKey,
      s"$badFrame frames do not carry target id $targetId" -> badFrame,
      s"$dupKeys duplicate keys" -> dupKeys,
      s"$missing generated records missing from topic B" -> missing,
      s"$extra records in topic B not generated" -> extra,
      s"$badValue records decode to other values than generated" -> badValue)
      .filter(_._2 > 0).map(_._1)
    val subjects = targetReg.subjects.toSet
    if (!Set(Subject, "events-key").subsetOf(subjects))
      ctx.problem(s"target registry subjects are ${subjects.mkString(",")}")
    if (targetId == ids._1 || targetId == ids._2)
      ctx.problem(s"target id $targetId equals a source id")
    Checked(attempted, failed, problems)
  }

  /** Per-layer metrics of the engine and the topic seam, and the spans of
    * the timed batches: each batch (from its progress report) holds its
    * sink commit, registry lookups and Spark jobs. */
  private def layerMetrics(ctx: Run, env: Env, q: StreamingQuery, role: String, batches: Set[Long],
                           commits: Map[Long, SeamCounters.Commit], runS: Double,
                           workloadSpan: Long): Unit = {
    def metric(name: String, v: Double): Unit = ctx.metric(s"$role.$name", v)
    val all = q.recentProgress.toSeq
    val data = all.filter(p => p.numInputRows > 0 && batches(p.batchId))
    val trace = ctx.trace
    val batchSpans = data.map { p =>
      val start = trace.wallMsToNs(Instant.parse(p.timestamp).toEpochMilli)
      trace.record(s"batch ${p.batchId}", workloadSpan, start,
        start + p.durationMs.get("triggerExecution") * 1000000L)
    }
    batches.toSeq.flatMap(commits.get).foreach(c => trace.record("topic.commit", 0L, c.startNs, c.endNs))
    SeamCounters.lookups.asScala.filter(_.role.startsWith(s"$role."))
      .foreach(l => trace.record(s"registry.byId.${l.role}", 0L, l.startNs, l.endNs))
    trace.adopt(batchSpans.toSet + workloadSpan + ctx.rootSpan, 2000000L)
    def p50(phase: String): Double =
      Stats.median(data.map(p => Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)))
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
      .foreach(ph => metric(s"streaming.${ph}_ms", p50(ph)))
    metric("streaming.trigger_ms", p50("triggerExecution"))
    metric("streaming.batches", data.size.toDouble)
    val busyMs = data.map(p => p.durationMs.get("triggerExecution").toDouble).sum
    metric("streaming.idle_ms", math.max(0.0, runS * 1000 - busyMs))
    val first = data.map(p => Instant.parse(p.timestamp)).minOption.getOrElse(Instant.now())
    val window = all.filter(p => !Instant.parse(p.timestamp).isBefore(first))
    metric("streaming.empty_trigger_frac",
      if (window.isEmpty) 0.0 else window.count(_.numInputRows == 0).toDouble / window.size)
    val commitMs = batches.toSeq.flatMap(commits.get).map(c => (c.endNs - c.startNs) / 1e6)
    metric("topic.sink_commit_ms", Stats.median(commitMs))
    metric("topic.records_per_batch", Stats.median(data.map(_.numInputRows.toDouble)))
    metric("topic.sink_bytes", batches.toSeq.map(b =>
      Fs.sizeOf(java.nio.file.Paths.get(env.topicB, "data", s"batch=$b"))).sum.toDouble)
    metric("topic.redelivered_skips", SeamCounters.commitsOf(role).count(_.redelivered).toDouble)
    val src = SeamCounters.registry(s"$role.source")
    val tgt = SeamCounters.registry(s"$role.target")
    val decoded = all.map(_.numInputRows).sum.toDouble
    metric("registry.open_calls", (src.open.get + tgt.open.get).toDouble)
    metric("registry.byId_calls", (src.byId.get + tgt.byId.get).toDouble)
    metric("registry.byId_ms", (src.byIdNs.get + tgt.byIdNs.get) / 1e6)
    metric("registry.register_calls", (src.register.get + tgt.register.get).toDouble)
    metric("registry.latest_calls", (src.latest.get + tgt.latest.get).toDouble)
    metric("registry.cache_hit_frac", if (decoded == 0) 0.0 else 1 - src.byId.get / decoded)
  }

  /** Single-threaded codec timings on the workload's own topic-A records,
    * and one batch decode→re-encode job over topic A into `noop`. */
  private def codecMetrics(ctx: Run, env: Env, ids: (Long, Long)): Unit = {
    val spark = ctx.spark
    val values = spark.read.parquet(env.topicA).select("value").limit(20000)
      .collect().map(_.getAs[Array[Byte]](0))
    val reg = env.source.open()
    val reader = new Schema.Parser().parse(V2)
    val dt = AvroSchemaConverter.toStructType(reader)
    val writers = Seq(ids._1, ids._2).filter(_ > 0).map(id => id -> reg.byId(id).get).toMap
    val targetId = env.target.open().latest(Subject).map(_._1).getOrElse(1L)
    def perRec(f: => Unit): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / values.length
      }
      Stats.median(reps)
    }
    val unframed = values.map(WireFormat.unframe)
    val rows = unframed.map { case (id, body) =>
      AvroCodec.avroToCatalyst(AvroCodec.decode(body, writers(id), reader), reader, dt)
    }
    val bodies = rows.map(r => AvroCodec.encode(AvroCodec.catalystToAvro(r, dt, reader)
      .asInstanceOf[org.apache.avro.generic.GenericRecord], reader))
    var sink = 0L
    ctx.metric("avro.unframe_ns", perRec(values.foreach(v => sink += WireFormat.unframe(v)._1)))
    ctx.metric("avro.decode_us_per_rec", perRec(unframed.foreach { case (id, body) =>
      sink += AvroCodec.avroToCatalyst(AvroCodec.decode(body, writers(id), reader), reader, dt).hashCode
    }) / 1000)
    ctx.metric("avro.encode_us_per_rec", perRec(rows.foreach { r =>
      sink += AvroCodec.encode(AvroCodec.catalystToAvro(r, dt, reader)
        .asInstanceOf[org.apache.avro.generic.GenericRecord], reader).length
    }) / 1000)
    ctx.metric("avro.frame_ns", perRec(bodies.foreach(b =>
      sink += WireFormat.frame(targetId, b, WireFormat.ConfluentMagic).length)))
    val jobMs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(env.topicA)
        .select(AvroFunctions.fromAvroWire(col("value"), V2, env.source).as("r"))
        .select(AvroFunctions.toAvroWireWithSchema(col("r"), targetId, V2, env.target.magic))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    ctx.metric("avro.codec_job_ms", Stats.median(jobMs))
    if (sink == 42) println() // keeps the timed loops from being optimised away
  }
}

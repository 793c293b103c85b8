package graftbench

import java.nio.file.Files

import graft.GraftSession
import graft.avro.{ConfluentRegistryRef, FileRegistryRef}
import graft.streaming.{FileTopicSink, Replication => Pipeline, TopicSink}
import org.apache.avro.Schema
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class SeamsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[2]", 2)
    .config("spark.sql.warehouse.dir", Files.createTempDirectory("seams-warehouse").toString)
    .getOrCreate()

  private val v1 = new Schema.Parser().parse(Replication.V1)
  private val v2 = new Schema.Parser().parse(Replication.V2)

  test("the counting registry returns what the wrapped registry returns") {
    Seq(ConfluentRegistryRef(Files.createTempDirectory("seams").toString),
        FileRegistryRef(Files.createTempDirectory("seams").toString)).foreach { inner =>
      val wrapped = CountingRegistryRef(inner, s"spec-${inner.getClass.getSimpleName}")
      assert(wrapped.magic == inner.magic)
      val reg = wrapped.open()
      val id1 = reg.register("s-value", v1)
      val id2 = reg.register("s-value", v2)
      val plain = inner.open()
      assert(plain.register("s-value", v2) == id2) // idempotent, same id
      assert(reg.byId(id1) == plain.byId(id1))
      assert(reg.byId(12345L) == plain.byId(12345L))
      assert(reg.latest("s-value") == plain.latest("s-value"))
      assert(reg.latestVersion("s-value") == plain.latestVersion("s-value"))
      assert(reg.latestEntry("s-value") == plain.latestEntry("s-value"))
      assert(reg.subjects == plain.subjects)
      val calls = SeamCounters.registry(s"spec-${inner.getClass.getSimpleName}")
      assert(calls.open.get == 1 && calls.register.get == 2 && calls.byId.get == 2)
    }
  }

  test("the timed sink passes each batch through and logs its commit") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val recording = new TopicSink {
      def commitBatch(batch: DataFrame, batchId: Long): Unit = seen += (batchId -> batch.count())
    }
    val dir = Files.createTempDirectory("seams").toString
    val df = spark.range(5).selectExpr("cast(id as string) as key", "cast(cast(id as string) as binary) as value")
    TimedSink(recording, "spec-recording", dir).commitBatch(df, 3L)
    assert(seen == Seq(3L -> 5L))
    assert(SeamCounters.commitsOf("spec-recording").map(_.batchId) == Seq(3L))
  }

  test("over a file sink it commits what the sink commits, and marks redelivery") {
    val dir = Files.createTempDirectory("seams").toString
    val sink = TimedSink(FileTopicSink(dir), "spec-file", s"$dir/data")
    val df = spark.range(4).selectExpr("cast(id as string) as key", "cast(cast(id as string) as binary) as value")
    sink.commitBatch(df, 0L)
    sink.commitBatch(df, 0L) // redelivered: skipped by the sink
    val out = Pipeline.readCommitted(spark, dir)
    assert(out.count() == 4)
    assert(SeamCounters.commitsOf("spec-file").map(_.redelivered) == Seq(false, true))
  }
}

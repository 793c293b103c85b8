package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.avro.{RegistryRef, SchemaRegistry}
import graft.streaming.TopicSink
import org.apache.avro.Schema
import org.apache.spark.sql.DataFrame

/** Process-wide counters fed by the delegating seam wrappers below. The
  * wrappers are serialized into tasks, so the counts cannot live in the
  * wrapper instances; in local mode every task runs in this JVM. */
object SeamCounters {
  final class RegistryCalls {
    val open, byId, byIdNs, register, latest = new AtomicLong()
  }

  /** One `commitBatch` call: when it started and returned, and whether the
    * batch was already committed (a redelivery the sink skips). */
  final case class Commit(batchId: Long, startNs: Long, endNs: Long, redelivered: Boolean)

  /** One timed registry lookup: (role, start, end). */
  final case class Lookup(role: String, startNs: Long, endNs: Long)

  private val registries = TrieMap.empty[String, RegistryCalls]
  val lookups = new ConcurrentLinkedQueue[Lookup]()
  private val commits = TrieMap.empty[String, ConcurrentLinkedQueue[Commit]]

  def registry(role: String): RegistryCalls =
    registries.getOrElseUpdate(role, new RegistryCalls)

  def commitLog(tag: String): ConcurrentLinkedQueue[Commit] =
    commits.getOrElseUpdate(tag, new ConcurrentLinkedQueue[Commit]())

  def commitsOf(tag: String): Seq[Commit] = commitLog(tag).asScala.toSeq
}

/** Delegating [[RegistryRef]] that counts the calls made through it under
  * `role` (e.g. "source" or "target"). */
final case class CountingRegistryRef(inner: RegistryRef, role: String) extends RegistryRef {
  def open(): SchemaRegistry = {
    val calls = SeamCounters.registry(role)
    calls.open.incrementAndGet()
    new CountingRegistry(inner.open(), calls, role)
  }
  def magic: Byte = inner.magic
}

final class CountingRegistry(inner: SchemaRegistry, calls: SeamCounters.RegistryCalls,
                             role: String) extends SchemaRegistry {
  def register(subject: String, schema: Schema): Long = {
    calls.register.incrementAndGet()
    inner.register(subject, schema)
  }
  def byId(id: Long): Option[Schema] = {
    val t0 = System.nanoTime()
    try inner.byId(id)
    finally {
      val t1 = System.nanoTime()
      calls.byId.incrementAndGet()
      calls.byIdNs.addAndGet(t1 - t0)
      SeamCounters.lookups.add(SeamCounters.Lookup(role, t0, t1))
    }
  }
  def latest(subject: String): Option[(Long, Schema)] = {
    calls.latest.incrementAndGet()
    inner.latest(subject)
  }
  def subjects: Seq[String] = inner.subjects
  override def latestVersion(subject: String): Option[Int] = inner.latestVersion(subject)
  override def latestEntry(subject: String): Option[(Int, Long, Schema)] = {
    calls.latest.incrementAndGet()
    inner.latestEntry(subject)
  }
}

/** Delegating [[TopicSink]] that logs when each commit started and returned
  * under `tag`. `committedDir` is the sink's committed-batch directory, used
  * only to tell a redelivered batch (already committed) from a new one. */
final case class TimedSink(inner: TopicSink, tag: String, committedDir: String)
    extends TopicSink {
  def commitBatch(batch: DataFrame, batchId: Long): Unit = {
    val redelivered = Files.exists(Paths.get(committedDir, s"batch=$batchId"))
    val t0 = System.nanoTime()
    inner.commitBatch(batch, batchId)
    SeamCounters.commitLog(tag).add(
      SeamCounters.Commit(batchId, t0, System.nanoTime(), redelivered))
  }
}

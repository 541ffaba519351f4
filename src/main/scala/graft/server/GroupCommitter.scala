package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.{CompletableFuture, LinkedBlockingQueue, TimeUnit}

import graft.streaming.Ingest

/** Group-commit batcher for the HTTP ingest path.
  *
  * The reference ingests by parsing request bodies into a shared in-memory
  * part that a background job persists (lib/logstorage/storage.go:525,
  * datadb.go in-memory parts) — one storage write covers many concurrent
  * requests. The Spark analogue: handlers enqueue their RAW payload lines
  * keyed by (protocol, parse params, stream fields, tenant) and block on a
  * future; a single flusher thread drains everything queued, concatenates
  * each group's lines into ONE parallelized DataFrame, parses once, and
  * runs ONE [[Ingest.appendBatch]] per group. While that write job runs,
  * newly arriving requests accumulate into the next batch — batch size
  * adapts to load with no fixed-timer latency: an idle server commits a
  * lone request immediately; a loaded server amortizes the Spark job
  * across every request that arrived during the previous write.
  *
  * Buffering lines (not per-request DataFrames) keeps the flush plan's
  * SHAPE constant (one source, one parser) instead of an N-way union.
  * Its generated code is constant too, because the flush instant is held
  * by reference (FlushInstant) rather than inlined as a literal, so a
  * steady-state flush reuses the compiled classes of the previous one.
  *
  * Each batch is sized once, by payload characters rather than lines (a
  * one-line Loki/OTLP body can be large), into parse slices
  * ([[GroupCommitter.slices]]). A batch of one slice is parsed and
  * written by a single task with no exchange; a batch of several is
  * salted across the writers (see [[Ingest.appendBatch]]'s `salt`).
  *
  * Completing the future only after the append keeps read-your-writes: a
  * 200 response still means the rows are queryable, exactly like the
  * previous one-job-per-POST behavior that capped sustained ingest at
  * ~10 req/s.
  */
object GroupCommitter {
  /** Raw request payload: protocol lines (jsonline/bulk lines, or whole
    * JSON bodies for the explode-style parsers), or rows already decoded
    * driver-side (the protobuf transports). */
  sealed trait Payload
  final case class Lines(lines: Seq[String]) extends Payload
  final case class Rows(
    rows: Seq[(java.sql.Timestamp, String, Map[String, String])]) extends Payload

  private final case class Entry(payload: Payload, key: String,
                                 build: DataFrame => DataFrame,
                                 streamFields: Seq[String], tenant: String,
                                 done: CompletableFuture[Unit])

  /** Payload characters per parse slice (bytes, for ASCII payloads).
    * Set from one-off flush timings on 4 cores, one task with no exchange
    * against the salted exchange (1 MiB slices), medians of 10 warm
    * flushes: jsonline 1 MiB 371 vs 337 ms, 2 MiB 350 vs 371 ms, 4 MiB
    * 522 vs 492 ms, 8 MiB 822 vs 538 ms; eight Loki bodies 0.55 MiB 255
    * vs 273 ms, 1.1 MiB 333 vs 298 ms, 2.2 MiB 439 vs 409 ms, 4.1 MiB
    * 667 vs 459 ms. Up to 1 MiB one task is as fast; from 1 to 2 MiB the
    * two are within the spread of the runs; above that the salted write
    * wins. */
  val SliceChars: Long = 1L << 20

  /** Parse slices for a batch of `lines` payload lines holding `chars`
    * characters: one per started SliceChars, at most 32, and at most one
    * per line. A line is parsed by one task whatever its size, and for
    * a single Loki body the exchange saved nothing (1 MiB 287 vs 305 ms,
    * 4.1 MiB 656 vs 706 ms, one task first), so a one-line batch is
    * always one slice. */
  def slices(chars: Long, lines: Int): Int =
    math.min(32L, math.max(1L,
      math.min(lines.toLong, (chars + SliceChars - 1) / SliceChars))).toInt

  private def chars(p: Payload): Long = p match {
    case Lines(ls) => ls.iterator.map(_.length.toLong + 1).sum
    case Rows(rs) => rs.iterator.map { case (_, m, f) =>
      16L + m.length + f.iterator.map { case (k, v) => k.length + v.length + 2L }.sum
    }.sum
  }

  private def size(p: Payload): Int = p match {
    case Lines(ls) => ls.size
    case Rows(rs) => rs.size
  }
}

final class GroupCommitter(spark: SparkSession, storeDir: String,
                           maxBatchEntries: Int = 4096,
                           lingerMs: Long = 25L) {
  import GroupCommitter.{Entry, Lines, Payload, Rows}

  private val queue = new LinkedBlockingQueue[Entry]()
  @volatile private var closed = false

  // observability for specs/bench: requests in vs write jobs out
  private val enqueuedCount = new java.util.concurrent.atomic.AtomicLong
  private val flushCount = new java.util.concurrent.atomic.AtomicLong
  def enqueued: Long = enqueuedCount.get
  def flushes: Long = flushCount.get

  private def linesDF(lines: Seq[String], slices: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(lines, slices)).toDF("value")
  }

  private def rowsDF(
      rows: Seq[(java.sql.Timestamp, String, Map[String, String])],
      slices: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, slices))
      .toDF("_time", "_msg", "fields")
  }

  /** The batch of `ps` as one DataFrame, and whether its write is salted
    * (it is not for a batch parsed in one slice). */
  private def merged(ps: Seq[Payload]): (DataFrame, Boolean) = {
    val n = GroupCommitter.slices(ps.iterator.map(GroupCommitter.chars).sum,
      ps.iterator.map(GroupCommitter.size).sum)
    ps match {
      case many if many.forall(_.isInstanceOf[Lines]) =>
        (linesDF(many.flatMap(_.asInstanceOf[Lines].lines), n), n > 1)
      case many if many.forall(_.isInstanceOf[Rows]) =>
        (rowsDF(many.flatMap(_.asInstanceOf[Rows].rows), n), n > 1)
      case many => // mixed kinds under one key can't happen from IngestServer,
        // but merge defensively via union of built frames — a union spans
        // a partition per part, so it is always salted
        (many.map(p => merged(Seq(p))._1).reduce(_.unionByName(_)), true)
    }
  }

  private val flusher = new Thread(() => {
    while (!closed || !queue.isEmpty) {
      val first =
        try queue.poll(100, TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => null }
      if (first != null) {
        // linger briefly so a concurrent request wave lands in ONE flush —
        // without it the flusher races ahead of the wave and commits 2-3
        // stragglers per job (measured ~2x fewer write jobs under 16-way
        // load). A lone idle request pays +lingerMs latency, two orders of
        // magnitude below the write job it is about to run.
        // The linger is growth-aware: a fixed sleep still split waves
        // whose arrivals spread past it (measured 4-vs-6 flushes for the
        // same 48-request load, a 60k→38k rows/s swing), so after the
        // base sleep keep waiting in small steps WHILE the queue is still
        // growing, bounded at 4x the base. Stops one step after arrivals
        // stop — an idle tail costs one stepMs, a steady trickle is cut
        // off by the bound so a continuous stream can never starve the
        // flush.
        // guarded like the poll above: an interrupt during the linger must
        // not kill the flusher (that would leave every enqueued caller
        // timing out until restart) — the batch still flushes below
        if (lingerMs > 0) {
          try Thread.sleep(lingerMs)
          catch { case _: InterruptedException => () }
          val stepMs = math.max(1L, lingerMs / 5)
          var waited = 0L
          var last = queue.size
          var growing = true
          while (growing && waited < lingerMs * 3) {
            try Thread.sleep(stepMs)
            catch { case _: InterruptedException => () }
            waited += stepMs
            val now = queue.size
            growing = now > last
            last = now
          }
        }
        val batch = new java.util.ArrayList[Entry]()
        batch.add(first)
        queue.drainTo(batch, maxBatchEntries - 1)
        import scala.jdk.CollectionConverters._
        val entries = batch.asScala.toSeq
        entries.groupBy(e => (e.key, e.streamFields, e.tenant)).foreach {
          case ((_, fields, tenant), group) =>
            try {
              // identical key ⇒ identical build fn; parse the concatenated
              // payload once through the first entry's builder
              val (df, salt) = merged(group.map(_.payload))
              Ingest.appendBatch(group.head.build(df), storeDir, fields, tenant,
                salt)
              flushCount.incrementAndGet()
              Metrics.ingestCommits.incrementAndGet()
              group.foreach(_.done.complete(()))
            } catch {
              case _: Throwable if group.size > 1 =>
                // one bad payload must not fail the whole group: fall back
                // to per-entry appends so only the offender 400s
                group.foreach { e =>
                  try {
                    val (df, salt) = merged(Seq(e.payload))
                    Ingest.appendBatch(e.build(df), storeDir, fields, tenant,
                      salt)
                    flushCount.incrementAndGet()
                    Metrics.ingestCommits.incrementAndGet()
                    e.done.complete(())
                  } catch {
                    case t: Throwable => e.done.completeExceptionally(t)
                  }
                }
              case e: Throwable => group.foreach(_.done.completeExceptionally(e))
            }
        }
      }
    }
  }, "graft-ingest-commit")
  flusher.setDaemon(true)
  flusher.start()

  /** Enqueue a payload and wait until the write that includes it has
    * committed. `key` must uniquely determine `build`'s behavior (route +
    * every parse/transform param) — payloads with equal keys are
    * concatenated and parsed through one builder. Throws what the append
    * threw (so the HTTP handler can 400). */
  def append(payload: Payload, key: String, build: DataFrame => DataFrame,
             streamFields: Seq[String], tenant: String,
             timeoutMs: Long = 120000L): Unit = {
    if (closed) throw new IllegalStateException("committer closed")
    val f = new CompletableFuture[Unit]()
    enqueuedCount.incrementAndGet()
    queue.put(Entry(payload, key, build, streamFields, tenant, f))
    try f.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
  }

  /** Block until everything enqueued so far has committed (the appends are
    * synchronous per caller, so an empty queue means no invisible data —
    * this is the /internal/force_flush contract). */
  def quiesce(timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!queue.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    queue.isEmpty
  }

  /** Stop accepting entries; the flusher drains what's queued, then exits
    * (its poll timeout notices `closed` within ~100ms). */
  def close(): Unit = { closed = true }
}

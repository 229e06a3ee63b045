package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.ingest.{BlockWriter, Snapshots}
import graft.query.RangeQuery
import graft.streaming.StreamIngest

/** `ingest`: the write path. A fresh `Snapshots` table takes 8192-row
  * appends in a closed loop; every fifth commit is followed by a
  * read-after-write `readWhere`, and a fixed seeded mutation sequence
  * (`deleteWhereDV`, `deleteByKeys`, `upsertByKeys`, `merge`) rides along,
  * closed by a `compact`. Then one `BlockWriter.write` + `contentAddress`
  * batch is read back through `RangeQuery` over 1 h, 1 d and 7 d ranges,
  * and a streaming leg feeds `StreamIngest.start` (MaxAge 1 s) from an
  * open-loop file feeder. All of it is one timed write phase.
  *
  * Every acknowledged op is applied to an in-memory model of the table;
  * the table must equal the model when re-read from a fresh SparkSession
  * after the writer's session has stopped.
  */
object Ingest {
  val BatchRows = 8192 // the reference's MaxSize
  val Users = 5000
  val SpanDays = 30
  val MaxBatches = 30
  /** Commit counts after which the mutation sequence steps run. */
  val MutateAt: Seq[Int] = Seq(2, 4, 6, 8)
  val ReadEvery = 5
  val FeedFiles = 5
  val FeedRows = 2000
  /** Feeder period: deliberately not a multiple of the 1 s MaxAge. */
  val FeedPeriodMs = 700L

  type Key = (String, Long)

  def run(ctx: Ctx, rep: Report): Unit = {
    var spark = Main.session(ctx.cores)
    val tr = new Tracer(spark, ctx.trace)
    val gen = new Gen(ctx.seed, Users, SpanDays)
    Gen.selfCheck(ctx.seed, s => new Gen(s, Users, SpanDays).events(4 * BatchRows, 0).toSeq)
    // Appends are consecutive slices of one time-ordered stream.
    val stream = gen.events(MaxBatches * BatchRows, 0)
    def batch(i: Int): Array[Event] = stream.slice(i * BatchRows, (i + 1) * BatchRows)
    val rnd = new SplittableRandom(ctx.seed ^ 0x17e57L)
    // The BlockWriter batch and its range reads, one per width, each
    // around a row of the batch so it is never empty.
    val bw = gen.events(BatchRows, 3)
    val rangeRnd = new SplittableRandom(ctx.seed ^ 0x4a46eL)
    val ranges = Gen.Widths.toSeq.map { w =>
      val probe = bw(rangeRnd.nextInt(bw.length))
      val lo = probe.ts_us - (rangeRnd.nextDouble() * w).toLong
      (probe.user_id, lo, lo + w)
    }

    val (_, warmMs) = Stat.timeMs(warmUp(spark, ctx, new Gen(ctx.seed + 7, Users, SpanDays)))
    rep.detail("warmup_s") = (warmMs / 1e3, "s")
    val feed = new Gen(ctx.seed, Users, SpanDays).events(FeedFiles * FeedRows, 2)
      .map(e => e.copy(ts_us = e.ts_us + 2 * gen.spanUs))
    val feedFiles = stageFeed(spark, ctx.dir("feed-staged"), feed)
    rep.e2e("setup_s") = (ctx.sinceStartS, "s")

    val table = ctx.dir("table")
    val model = mutable.HashMap.empty[Key, Event]
    def put(es: Iterable[Event]): Unit = es.foreach(e => model((e.user_id, e.ts_us)) = e)
    val commitMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val mutateMs = mutable.LinkedHashMap.empty[String, Double]
    var acked = 0L
    var filesWritten = 0L
    var tracedCommits = 0
    var ops = 0

    def liveFiles(): Seq[String] = Snapshots.liveFiles(table, Snapshots.versions(table).max)
    def timed[T](name: String)(body: => T): T = {
      tr.on = ctx.trace
      val (r, ms) = tr.op(s"ingest.$name", ops)(tr.span(s"Snapshots.$name", ops)(body))
      mutateMs(name) = ms
      ops += 1
      r
    }
    def sample(n: Int): Seq[Event] = {
      val ks = model.valuesIterator.toArray.sorted(Event.ordering)
      Seq.fill(n)(ks(rnd.nextInt(ks.length))).distinct
    }
    def fresh(n: Int): Seq[Event] = gen.events(n, 100 + ops).toSeq
      .map(e => e.copy(ts_us = e.ts_us + gen.spanUs))
    def mutate(step: Int): Unit = step match {
      case 0 =>
        val u = sample(1).head.user_id
        val t = Gen.EventTypes(rnd.nextInt(Gen.EventTypes.length))
        timed("deleteWhereDV")(Snapshots.deleteWhereDV(spark, table,
          col("user_id") === u || col("event_type") === t && col("value") < 20.0))
        model.filterInPlace { case (_, e) => !(e.user_id == u || e.event_type == t && e.value < 20.0) }
      case 1 =>
        val keys = sample(200)
        timed("deleteByKeys")(Snapshots.deleteByKeys(spark, table,
          Main.frame(spark, keys, 1).select("user_id", "ts_us")))
        keys.foreach(e => model.remove((e.user_id, e.ts_us)))
      case 2 =>
        val src = sample(150).map(e => e.copy(value = e.value + 1, props = "{}")) ++ fresh(150)
        timed("upsertByKeys")(Snapshots.upsertByKeys(spark, table,
          Main.frame(spark, src, ctx.cores), Seq("user_id", "ts_us")))
        put(src)
      case 3 =>
        val src = sample(150).map(e => e.copy(event_type = "merged")) ++ fresh(150)
        timed("merge")(Snapshots.merge(spark, table,
          Main.frame(spark, src, ctx.cores), Seq("user_id", "ts_us")))
        put(src)
    }

    val readFacts = mutable.ArrayBuffer.empty[ReadFacts]
    def readAfterWrite(recent: Array[Event]): Unit = {
      val e = recent(rnd.nextInt(recent.length))
      val (lo, hi) = (recent.head.ts_us, recent.last.ts_us)
      tr.on = ctx.trace
      val ((rows, df), ms) = tr.op("ingest.read_after_write", ops) {
        val df = tr.span("Snapshots.readWhere", ops) {
          Snapshots.readWhere(spark, table, col("user_id") === e.user_id && col("ts_us").between(lo, hi))
        }
        (tr.span("Snapshots.readWhere.collect", ops)(df.collect()), df)
      }
      ops += 1
      readMs += ms
      if (ctx.trace) readFacts += ReadFacts.of(df, liveFiles().map(ReadFacts.fileName).toSet, rows.length)
      val want = model.valuesIterator.filter(x => x.user_id == e.user_id && x.ts_us >= lo && x.ts_us <= hi)
        .toSeq.sorted(Event.ordering)
      rep.check(s"read-after-write ${e.user_id}: ${rows.length} rows, want ${want.size}")(
        rows.map(Event.of).sorted(Event.ordering).toSeq == want)
    }
    // The write phase: commits in a closed loop until the deadline, and
    // always through the whole mutation sequence; then compact, the
    // BlockWriter batch with its range reads, and the streaming leg.
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    var i = 0
    var step = 0
    while ((System.nanoTime() < deadline || step < MutateAt.size) && i < MaxBatches) {
      val b = batch(i)
      val df = Main.frame(spark, b.toSeq, ctx.cores)
      tr.on = ctx.trace && i % 2 == 1
      val before = if (tr.on) liveFiles().size else 0
      val (_, ms) = tr.op("ingest.commit", ops)(tr.span("Snapshots.commit", ops) {
        Snapshots.commit(spark, df, table, sortCols = Seq("user_id", "ts_us"))
      })
      if (tr.on) { filesWritten += liveFiles().size - before; tracedCommits += 1 }
      commitMs += ((ms, tr.on))
      rep.attempted += 1
      put(b)
      acked += b.length
      ops += 1
      i += 1
      if (i % ReadEvery == 0) readAfterWrite(b)
      if (step < MutateAt.size && i == MutateAt(step)) { mutate(step); step += 1 }
    }
    val preCompact = liveFiles()
    timed("compact")(Snapshots.compact(spark, table, ctx.cores, sortCols = Seq("user_id", "ts_us")))

    // One BlockWriter batch, content-addressed and read back by range.
    val layout = ctx.dir("layout")
    tr.on = ctx.trace
    val ((bwMs, caMs), _) = tr.op("ingest.block_write", ops) {
      val (_, w) = Stat.timeMs(tr.span("BlockWriter.write", ops) {
        BlockWriter.write(Main.frame(spark, bw.toSeq, ctx.cores), layout, "user_id", "ts_us")
      })
      val (_, c) = Stat.timeMs(tr.span("BlockWriter.contentAddress", ops)(BlockWriter.contentAddress(spark, layout)))
      (w, c)
    }
    acked += bw.length
    ops += 1
    val rangeGot = ranges.map { case (u, lo, hi) =>
      val (got, _) = tr.op("ingest.range", ops) {
        val df = tr.span("RangeQuery.query", ops) {
          RangeQuery.query(spark, layout, "user_id", "ts_us", lit(u), lit(lo), lit(hi))
            .select("user_id", "ts_us", "event_type", "value", "props")
        }
        (tr.span("RangeQuery.collect", ops)(df.collect()), df)
      }
      ops += 1
      got
    }

    val (leg, _) = tr.op("ingest.stream", ops)(streamLeg(spark, ctx, rep, tr, ops, feedFiles))
    acked += feed.length
    ops += FeedFiles
    tr.on = false
    val writeWallS = (System.nanoTime() - start) / 1e9

    // Checks and layout facts, outside the clock.
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewritten = preCompact.diff(liveFiles()).map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val bwFiles = listParquet(fs, layout)
    ranges.zip(rangeGot).foreach { case ((u, lo, hi), (rows, _)) =>
      val want = bw.filter(e => e.user_id == u && e.ts_us >= lo && e.ts_us <= hi).sorted(Event.ordering).toSeq
      rep.check(s"range $u [$lo,$hi] over the BlockWriter batch: ${rows.length} rows, want ${want.size}")(
        rows.map(Event.of).sorted(Event.ordering).toSeq == want)
    }
    rep.check(s"BlockWriter batch holds ${bw.length} rows")(
      spark.read.parquet(layout).count() == bw.length)
    val sunk = spark.read.parquet(leg.sink).drop("bucket").collect().map(Event.of).sorted(Event.ordering).toSeq
    rep.check(s"stream sink holds ${sunk.size} rows, fed ${feed.length}")(
      sunk == feed.toSeq.sorted(Event.ordering))
    val rangeFacts = if (ctx.trace) rangeGot.map { case (rows, df) => ReadFacts.of(df, Set.empty, rows.length) } else Nil

    val dataBytes = bytesUnder(fs, new Path(table, "data"))
    val allBytes = bytesUnder(fs, new Path(table))
    tr.finish()

    // Every acknowledged op must survive the writer's session.
    spark.stop()
    spark = Main.session(ctx.cores)
    val reread = Snapshots.read(spark, table).collect().map(Event.of).sorted(Event.ordering).toSeq
    rep.check(s"table after restart: ${reread.size} rows, model ${model.size}")(
      reread == model.valuesIterator.toSeq.sorted(Event.ordering))

    val plain = commitMs.filterNot(_._2).map(_._1).toSeq
    rep.e2e("op_ms") = (Stat.p50(plain), "ms")
    rep.e2e("ops_per_s") = (ops / writeWallS, "1/s")
    val D = rep.detail
    D("ops") = (ops.toDouble, "count")
    D("ingest_rows_per_s") = (acked / writeWallS, "rows/s")
    D("commit_p50_ms") = (Stat.p50(plain), "ms")
    D("commit_p90_ms") = (Stat.p90(plain), "ms")
    D("commits") = (i.toDouble, "count")
    D("mutate_s") = (mutateMs.values.sum / 1e3, "s")
    D("read_after_write_p50_ms") = (Stat.p50(readMs.toSeq), "ms")
    D("visible_p50_ms") = (Stat.p50(leg.visible), "ms")
    D("bytes_per_row") = (allBytes.toDouble / math.max(1, model.size), "B")

    if (ctx.trace) {
      val L = rep.layer
      val commits = tr.named("Snapshots.commit")
      val costs = commits.map(_.cost)
      L("Snapshots.commit.job_ms") = (Stat.p50(costs.map(_.jobMs.toDouble)), "ms")
      L("Snapshots.commit.driver_ms") =
        (Stat.p50(commits.zip(costs).map { case (s, c) => s.ms - c.jobMs }), "ms")
      L("Snapshots.commit.jobs") = (Stat.mean(costs.map(_.jobs.toDouble)), "count")
      L("Snapshots.commit.files_written") = (filesWritten.toDouble / math.max(1, tracedCommits), "count")
      L("Snapshots.live_files") = (preCompact.size.toDouble, "count")
      Seq("deleteWhereDV", "deleteByKeys", "upsertByKeys", "merge", "compact").foreach { m =>
        L(s"Snapshots.${m}_ms") = (mutateMs.getOrElse(m, 0.0), "ms")
      }
      L("Snapshots.compact_bytes_rewritten") = (rewritten.toDouble, "B")
      L("table.data_bytes") = (dataBytes.toDouble, "B")
      L("table.meta_bytes") = ((allBytes - dataBytes).toDouble, "B")
      L("BlockWriter.write_s") = (bwMs / 1e3, "s")
      L("BlockWriter.contentAddress_s") = (caMs / 1e3, "s")
      L("BlockWriter.files_written") = (bwFiles.toDouble, "count")
      L("StreamIngest.batch_ms") = (Stat.p50(leg.batches.map(_.durMs.toDouble)), "ms")
      L("StreamIngest.wait_ms") = (Stat.p50(leg.waits), "ms")
      L("StreamIngest.rows_per_batch") = (Stat.mean(leg.batches.map(_.rows.toDouble)), "rows")
      L("StreamIngest.batches") = (leg.batches.size.toDouble, "count")
      ReadFacts.report(rep, tr, "Snapshots.readWhere", "Snapshots.readWhere", readFacts.toSeq)
      ReadFacts.report(rep, tr, "RangeQuery", "RangeQuery.query", rangeFacts, listed = bwFiles)
      val tracedCommitMs = commitMs.filter(_._2).map(_._1).toSeq
      L("trace.overhead_pct") = ((Stat.p50(tracedCommitMs) / Stat.p50(plain) - 1) * 100, "%")
      tr.report(rep)
    }
  }

  def bytesUnder(fs: FileSystem, p: Path): Long = {
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  def listParquet(fs: FileSystem, dir: String): Int = {
    val it = fs.listFiles(new Path(dir), true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** One micro-batch of the streaming leg, from the query's progress. */
  final case class Batch(rows: Long, startMs: Long, durMs: Long)

  /** What the streaming leg saw: per-file visibility latency (due landing
    * time to the commit of the micro-batch holding the file), per-file
    * wait from due landing to batch start, the batches, and the sink.
    */
  final case class Leg(visible: Seq[Double], waits: Seq[Double], batches: Seq[Batch], sink: String)

  /** Write the feed as `FeedFiles` parquet files under `dir`; returns
    * them in name order with their row counts.
    */
  def stageFeed(spark: SparkSession, dir: String, feed: Array[Event]): Seq[(Path, Long)] = {
    Main.frame(spark, feed.toSeq, FeedFiles).write.parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    require(files.length == FeedFiles, s"staged ${files.length} feed files, want $FeedFiles")
    files.map(f => f -> spark.read.parquet(f.toString).count())
  }

  /** Feed the staged files into a watched directory on a fixed schedule
    * while `StreamIngest.start` runs, until every fed row has been
    * committed by the sink.
    */
  def streamLeg(spark: SparkSession, ctx: Ctx, rep: Report, tr: Tracer, op: Int,
                files: Seq[(Path, Long)]): Leg = {
    val fs = files.head._1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val watch = new Path(ctx.dir("feed"))
    fs.mkdirs(watch)
    val sink = ctx.dir("stream-sink")
    val progress = new ConcurrentLinkedQueue[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.add(Batch(p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.getOrDefault("triggerExecution", 0L)))
      }
    }
    spark.streams.addListener(listener)
    val q = tr.span("StreamIngest.start", op) {
      StreamIngest.start(spark.readStream.schema(Event.schema).parquet(watch.toString),
        sink, ctx.dir("stream-checkpoint"), "user_id", "ts_us")
    }
    val total = files.map(_._2).sum
    val t0 = System.currentTimeMillis() + 300
    val due = files.indices.map(k => t0 + k * FeedPeriodMs)
    val feeder = new Thread(() => files.zip(due).foreach { case ((f, _), at) =>
      val wait = at - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      fs.rename(f, new Path(watch, f.getName))
    }, "perfbench-feeder")
    feeder.start()
    val limit = System.currentTimeMillis() + 30000
    def seen = progress.asScala.map(_.rows).sum
    while (seen < total && System.currentTimeMillis() < limit && q.exception.isEmpty) Thread.sleep(20)
    feeder.join()
    q.stop()
    spark.streams.removeListener(listener)
    q.exception.foreach(e => rep.fail(s"stream failed: $e"))

    // Files land in due order and each micro-batch takes every file
    // present when it starts, so batches consume files in order.
    val bs = progress.asScala.toSeq.sortBy(_.startMs)
    val visible = mutable.ArrayBuffer.empty[Double]
    val waits = mutable.ArrayBuffer.empty[Double]
    var k = 0
    bs.foreach { b =>
      var left = b.rows
      while (left > 0 && k < files.length) {
        left -= files(k)._2
        visible += (b.startMs + b.durMs - due(k)).toDouble
        waits += (b.startMs - due(k)).toDouble
        k += 1
      }
      if (left != 0) rep.fail(s"stream batch of ${b.rows} rows does not end on a file boundary")
    }
    Leg(visible.toSeq, waits.toSeq, bs, sink)
  }

  /** Run the commit-loop code paths once on a scratch table, so JIT and
    * codegen warm-up of the first Spark jobs lands in set-up rather than
    * in the first timed commit. `merge`, `compact` and the BlockWriter leg
    * run once per run and are timed cold.
    */
  def warmUp(spark: SparkSession, ctx: Ctx, g: Gen): Unit = {
    val t = ctx.dir("warm/table")
    val es = g.events(2 * BatchRows, 9)
    val (a, b) = es.splitAt(BatchRows)
    Snapshots.commit(spark, Main.frame(spark, a.toSeq, ctx.cores), t, sortCols = Seq("user_id", "ts_us"))
    Snapshots.commit(spark, Main.frame(spark, b.toSeq, ctx.cores), t, sortCols = Seq("user_id", "ts_us"))
    val u = es.head.user_id
    Snapshots.readWhere(spark, t, col("user_id") === u && col("ts_us").between(Gen.T0, Long.MaxValue)).collect()
    Snapshots.deleteWhereDV(spark, t, col("user_id") === u || col("event_type") === "view" && col("value") < 20.0)
    Snapshots.deleteByKeys(spark, t, Main.frame(spark, es.slice(10, 20).toSeq, 1).select("user_id", "ts_us"))
    Snapshots.upsertByKeys(spark, t, Main.frame(spark, es.slice(100, 200).toSeq, ctx.cores), Seq("user_id", "ts_us"))
  }
}

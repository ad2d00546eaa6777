package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Serve
import graft.storage.TableFormat
import graft.streaming.Pipeline

/** `chain_saturated`: the silver → gold → serve chain fed Kafka-shaped
  * JSON values in a closed loop. One producer pushes a 10k-event batch
  * (the reference's maxOffsetsPerTrigger) plus 5% redelivered duplicates,
  * each event stamped with its push time, and waits for silver to commit
  * it before pushing the next; the clock stops when serve has drained.
  * Meanwhile a reader thread pages the serving snapshot at 1 Hz, the
  * reference dashboard's poll.
  */
object Chain {
  val BatchEvents = 10000
  val Groups = 200
  val WarmEvents = 1000
  val ReadEveryMs = 1000
  val PageSize = 20

  /** Seeded event source with its own per-group tally of unique events. */
  final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val groups: IndexedSeq[String] =
      (0 until Groups).map(g => new UUID(seed, g.toLong).toString)
    val count: Array[Long] = Array.fill(Groups)(0L)
    // scores carry four decimals, the precision gold sums them at, so
    // the tally is exact: the sum in units of 1e-4
    val units: Array[Long] = Array.fill(Groups)(0L)
    var unique = 0L

    /** `n` fresh events stamped `ts`, plus n/20 redelivered copies. */
    def batch(n: Int, ts: Long): Seq[Array[Byte]] = {
      val fresh = (0 until n).map { _ =>
        val g = rnd.nextInt(Groups)
        val u = rnd.nextInt(10000)
        val score = u / 10000f
        count(g) += 1
        units(g) += u
        unique += 1
        s"""{"id":"$seed-$unique","group_id":"${groups(g)}","score":$score,"event_timestamp":$ts}"""
          .getBytes(StandardCharsets.UTF_8)
      }
      val dupes = Seq.fill(n / 20)(fresh(rnd.nextInt(n)))
      rnd.shuffle(fresh ++ dupes)
    }
  }

  /** Batches per run: one per `SecondsPerBatch` of `--seconds`, at least two. */
  val SecondsPerBatch = 4
  def batchesFor(seconds: Int): Int = math.max(2, (seconds + SecondsPerBatch - 1) / SecondsPerBatch)

  final class Deployed(val cfg: Pipeline.Config, val input: MemoryStream[Array[Byte]],
                       val queries: Seq[StreamingQuery], val gen: Gen) {
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
  }

  private def deploy(spark: SparkSession, dir: String, seed: Long,
                     format: TableFormat): Deployed = {
    import spark.implicits._
    val cfg = Pipeline.Config(dir, goldBuckets = 8)
    val input = MemoryStream[Array[Byte]](1, spark, None)
    val raw = Pipeline.parseKafkaShaped(input.toDF().toDF("value"))
    new Deployed(cfg, input, Pipeline.startAll(spark, raw, cfg, format), new Gen(seed))
  }

  def run(o: Main.Opts, out: mutable.Map[String, Any]): Unit = {
    val spark = Main.session(o, Pipeline.rocksDbConfigs ++ Map(
      "spark.sql.shuffle.partitions" -> "8"))
    val sessionReady = Clock.nowMs
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val tracer = new Tracer(spark)
    val format =
      if (o.trace) new TracedFormat(TableFormat.parquet, tracer, spark)
      else TableFormat.parquet

    // set-up: start the three stages and drain a warm-up batch through them
    val p0 = Clock.nowMs
    val c = deploy(spark, s"${o.runDir}/chain", o.seed, format)
    c.input.addData(c.gen.batch(WarmEvents, System.currentTimeMillis()))
    c.drain()
    out("setup") = Map("session_ms" -> (sessionReady - o.t0Ms), "prep_ms" -> (Clock.nowMs - p0))
    val warmUnique = c.gen.unique
    val warmServeBatch = lastBatch(progress, "graft_serve")

    val sched = new SchedRecorder(tracer)
    val cat = new CatalystRecorder(tracer)
    if (o.trace) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(cat)
    }
    val pushes = new ConcurrentLinkedQueue[Seq[Double]]()
    val reads = new ConcurrentLinkedQueue[Seq[Any]]()
    val m0 = Clock.nowMs

    // the dashboard: page 1 of the serving snapshot on a fixed 1 Hz poll
    @volatile var reading = true
    val reader = new Thread(() => {
      var next = Clock.nowMs
      while (reading) {
        val r0 = Clock.nowMs
        val ok = try {
          tracer.span("serve", "read") {
            Serve.page(Pipeline.serveSnapshot(spark, c.cfg),
              Seq(col("cumulative_score").desc, col("_id")), 1, PageSize).collect()
          }
          true
        } catch { case _: Throwable => false }
        reads.add(Seq(r0, Clock.nowMs - r0, ok))
        next += ReadEveryMs
        val wait = next - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()
    // a fixed number of batches, not a deadline: a deadline would admit
    // one batch more or less as host speed varies, and with a handful of
    // 10k batches per run that step swamps the measurement
    for (_ <- 1 to batchesFor(o.seconds)) {
      val a0 = Clock.nowMs
      tracer.span("gen", "push") {
        c.input.addData(c.gen.batch(BatchEvents, a0.toLong))
      }
      // (start, end, events pushed including duplicates)
      pushes.add(Seq(a0, Clock.nowMs, BatchEvents * 21 / 20.0))
      c.queries.head.processAllAvailable()
    }
    c.drain()
    val m1 = Clock.nowMs
    reading = false
    reader.join()
    c.stop()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    sched.open = false
    cat.open = false

    out("window") = Seq(m0, m1)
    out("unique_events") = c.gen.unique - warmUnique
    out("pushes") = pushes.asScala.toSeq
    out("reads") = reads.asScala.toSeq
    out("progress") = progress.rows.asScala.toSeq
    out("warm_serve_batch") = warmServeBatch
    out("serve_rows") = servedRows(spark, c.cfg)
    out("checks") = check(spark, c)
    if (o.trace) {
      out("spans") = tracer.spans.asScala.toSeq
      out("tasks") = sched.tasks.asScala.toSeq
      out("files") = fileFacts(spark, c.cfg)
    }
  }

  private def lastBatch(p: ProgressRecorder, query: String): Long = {
    org.apache.spark.perfbench.Bus.drain(SparkSession.active.sparkContext)
    p.rows.asScala.filter(r => r("query") == query && r("rows").asInstanceOf[Long] > 0)
      .map(_("batch").asInstanceOf[Long]).foldLeft(-1L)(math.max)
  }

  /** `(serve batch, last_event_timestamp)` of every row in the serve log. */
  private def servedRows(spark: SparkSession, cfg: Pipeline.Config): Seq[Seq[Long]] =
    spark.read.parquet(cfg.servePath)
      .select(col("_serve_batch").cast("long"), col("last_event_timestamp"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1))).toSeq

  /** The streaming invariants against the generator's own tally. */
  private def check(spark: SparkSession, c: Deployed): Map[String, Any] = {
    val silverRows = spark.read.parquet(c.cfg.silverPath).count()
    val snap = Pipeline.serveSnapshot(spark, c.cfg)
      .select("_id", "event_count", "cumulative_score").collect()
    val tally = c.gen.groups.zipWithIndex.map { case (g, i) =>
      g -> (c.gen.count(i), c.gen.units(i) / 10000.0) }.toMap
    // gold adds each batch's exact decimal sum to a double running total
    val bad = snap.filter { r =>
      tally.get(r.getString(0)).forall { case (n, s) =>
        r.getLong(1) != n || math.abs(r.getDouble(2) - s) > 1e-9 * math.max(1.0, s)
      }
    }
    bad.take(3).foreach(r =>
      System.err.println(s"[perfbench] group mismatch $r, tally ${tally.get(r.getString(0))}"))
    Map("silver_rows" -> silverRows, "expected_silver_rows" -> c.gen.unique,
      "served_groups" -> snap.length, "expected_groups" -> Groups,
      "groups_mismatched" -> bad.length)
  }

  /** File counts of each store, and each silver file's row count with
    * its modification time (when gold could first see it).
    */
  private def fileFacts(spark: SparkSession, cfg: Pipeline.Config): Map[String, Any] = {
    val fs = new Path(cfg.baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(dir: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
      val it = fs.listFiles(new Path(dir), true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) b += it.next()
      b.result().filter(_.getPath.getName.startsWith("part-"))
    }
    val silver = files(cfg.silverPath)
    val mtime = silver.map(f => f.getPath.getName -> f.getModificationTime).toMap
    val rows = spark.read.parquet(cfg.silverPath)
      .groupBy(input_file_name()).count().collect()
      .map(r => Seq(mtime.getOrElse(new Path(r.getString(0)).getName, 0L), r.getLong(1)))
    Map("silver_files" -> silver.size,
      "gold_change_files" -> files(cfg.goldChangesPath).size,
      "serve_log_files" -> files(cfg.servePath).size,
      "silver_file_rows" -> rows.toSeq)
  }
}

package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Registry queries timed as full materializations: each timed
  * operation builds the query (the registry constructor, including any
  * eager driver work) and collects every row of it, so no result column
  * and no final ORDER BY can be pruned away. Each result is fingerprinted
  * outside the timed span and compared by `run.py` against the recorded
  * oracle-checked fingerprint.
  */
object Registry {

  /** Order-insensitive digest of a result: row count plus the sum of
    * each row's MD5 prefix.
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val d = md.digest(r.toString.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${rows.length}%d:$acc%016x"
  }

  def run(o: Main.Opts, out: mutable.Map[String, Any]): Unit = {
    val spark = Main.session(o, Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true"))
    val sessionReady = Clock.nowMs
    val registry = SparkEntry.queries
    val unknown = o.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(",")}")
    o.record.foreach { dump => record(spark, o, dump); return }

    // set-up: the small-data warm-up of every query, then one build of
    // each query on the measured data (its index builds and eager driver
    // work). No query of the workload reads the forget fixtures, so they
    // are not registered.
    val p0 = Clock.nowMs
    o.queries.foreach { q =>
      try registry(q)(spark, o.baseDir).collect()
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $q: $e") }
    }
    o.queries.foreach { q =>
      try registry(q)(spark, o.dataDir)
      catch { case e: Throwable => System.err.println(s"[perfbench] build $q: $e") }
    }
    out("setup") = Map("session_ms" -> (sessionReady - o.t0Ms), "prep_ms" -> (Clock.nowMs - p0))

    val tracer = new Tracer(spark)
    val sched = new SchedRecorder(tracer)
    val cat = new CatalystRecorder(tracer)
    if (o.trace) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(cat)
    }
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    val m0 = Clock.nowMs
    var pass = 0
    var fatal: Option[String] = None
    // whole passes only, at least two, so every query weighs the same
    while (fatal.isEmpty && (pass < 2 || Clock.nowMs < m0 + o.seconds * 1000.0)) {
      val order = new scala.util.Random(o.seed * 7919 + pass).shuffle(o.queries)
      val it = order.iterator
      while (fatal.isEmpty && it.hasNext) {
        val q = it.next()
        var buildMs, totalMs = 0.0
        var rows: Array[Row] = null
        val t0 = Clock.nowMs
        val err = try {
          tracer.span("registry", q) {
            val df = registry(q)(spark, o.dataDir)
            buildMs = Clock.nowMs - t0
            rows = df.collect()
            totalMs = Clock.nowMs - t0
          }
          None
        } catch {
          case e: Throwable =>
            totalMs = Clock.nowMs - t0
            Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        if (err.nonEmpty && spark.sparkContext.isStopped)
          fatal = Some(s"SparkContext stopped while running $q")
        runs += Map("query" -> q, "pass" -> pass, "start" -> t0,
          "build_ms" -> buildMs, "total_ms" -> totalMs, "error" -> err,
          "fingerprint" -> Option(rows).map(fingerprint))
      }
      pass += 1
    }
    val m1 = Clock.nowMs
    if (!spark.sparkContext.isStopped)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    sched.open = false
    cat.open = false
    out("window") = Seq(m0, m1)
    out("runs") = runs.toSeq
    fatal.foreach(out("fatal") = _)
    if (o.trace) {
      out("spans") = tracer.spans.asScala.toSeq
      out("tasks") = sched.tasks.asScala.toSeq
    }
  }

  /** Registry data scale: x100 of the sf0.001 base is the sf0.1 size. */
  val Scale = 100

  /** Writes the registry data (a ScaleGen copy of `baseDir`) to `dataDir`
    * and reports each table's row count and summed row hash.
    */
  def generate(o: Main.Opts, out: mutable.Map[String, Any]): Unit = {
    val spark = Main.session(o, Map("spark.sql.shuffle.partitions" -> "4"))
    graft.tools.ScaleGen.generate(spark, o.baseDir, o.dataDir, Scale)
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    out("tables") = new java.io.File(o.dataDir).list().toSeq.sorted
      .filter(_.endsWith(".parquet")).map { t =>
        val df = spark.read.parquet(s"${o.dataDir}/$t")
        val r = df.agg(sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")),
          org.apache.spark.sql.functions.count("*")).head()
        t -> Seq(r.getLong(1), r.getDecimal(0).toString)
      }.toMap
  }

  /** Writes each query's collected result under `dump/<query>` (one
    * parquet file, rows in result order) next to its oracle SQL, and
    * records the fingerprint of the same rows.
    */
  private def record(spark: SparkSession, o: Main.Opts, dump: String): Unit = {
    val names = if (o.queries.nonEmpty) o.queries else SparkEntry.queries.keys.toSeq.sorted
    val prints = names.map { q =>
      val t0 = Clock.nowMs
      val df = SparkEntry.queries(q)(spark, o.dataDir)
      val rows = df.collect()
      System.err.println(f"[perfbench] recorded $q ${Clock.nowMs - t0}%.0f ms")
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$q")
      q -> fingerprint(rows)
    }.toMap
    Files.write(Paths.get(s"$dump/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (q, _) => prints.contains(q) })
        .getBytes("UTF-8"))
    Files.write(Paths.get(s"$dump/fingerprints.json"), Json(prints).getBytes("UTF-8"))
  }
}

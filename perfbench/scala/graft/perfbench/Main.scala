package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Runs one workload and writes its raw measurements
  * (samples, progress, spans, correctness facts) as one JSON object;
  * `perfbench/run.py` turns them into metrics.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --run-dir D --data-dir D --base-dir D --t0-ms MS
  *   --out FILE [--queries a,b,c] [--record DIR]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, runDir: String, dataDir: String,
                        baseDir: String, t0Ms: Double, out: String,
                        queries: Seq[String], record: Option[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("run-dir"),
      kv.getOrElse("data-dir", ""), kv.getOrElse("base-dir", ""),
      kv("t0-ms").toDouble, kv("out"),
      kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      kv.get("record"))
  }

  /** The session every harness of the repo builds, pinned to 4 cores;
    * scratch space (shuffle, warehouse) lives under the run directory.
    */
  def session(o: Opts, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM in kB (`VmHWM`). */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace)
    var code = 0
    try {
      o.workload match {
        case "chain_saturated" => Chain.run(o, out)
        case w if w.startsWith("registry") => Registry.run(o, out)
        case "generate"        => Registry.generate(o, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        code = 2
    }
    out("vmhwm_kb") = vmHwmKb()
    Files.write(Paths.get(o.out), Json(out.toMap).getBytes(StandardCharsets.UTF_8))
    System.out.flush()
    System.err.flush()
    // the run directory is removed by the caller, so Spark's own shutdown
    // (stopping the context, deleting its scratch space) is skipped
    Runtime.getRuntime.halt(code)
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

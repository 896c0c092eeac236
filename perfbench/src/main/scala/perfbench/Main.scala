package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side: runs one workload's generated requests
  * against graft and writes raw records; `perfbench/run.py` generates
  * the requests, checks the outputs and computes the metrics.
  *
  * Usage: perfbench.Main --workload W --requests F --data D --work DIR
  *   --seconds S --trace 0|1 --cpus N
  *
  * Set-up (session start plus the workload's warm-up requests, shared
  * round-robin by one thread per core) runs once, cold, and its
  * session then serves the timed window. Each client thread walks its request list, closed-loop, until the
  * window's deadline. With --trace 1 four windows continue the same
  * streams, untraced, traced, traced and untraced, so the two can be
  * compared.
  *
  * Writes to DIR: ops.tsv (one line per request), results.jsonl (the
  * collected rows of requests marked for checking), spans.jsonl and
  * jobs.jsonl (traced windows), summary.json.
  */
object Main {

  /** One finished request; `frames` only for requests to be checked. */
  final case class Rec(window: Int, r: Req, t0: Long, t1: Long,
      err: String, items: Long, rows: Long, keptBytes: Long,
      frames: Map[String, Frame])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val reqs = Files.readAllLines(new File(a("requests")).toPath, UTF_8)
      .asScala.filter(_.nonEmpty).map(Req.parse).toIndexedSeq
    val (warm, timed) = reqs.partition(_.client < 0)
    val clients = timed.groupBy(_.client).toSeq.sortBy(_._1).map(_._2)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // one cold set-up, the first in this JVM: class loading, JIT and
    // codegen compiles all count, as they do for a freshly started server
    val setupStart = System.nanoTime()
    val spark = session()
    val warmWork = new Work(spark, a("data"), s"$work/out/setup",
      new Tracer(false, spark.sparkContext))
    // one thread per core shares the warm-up requests round-robin
    parallel(warm.zipWithIndex.groupBy(_._2 % cpus).values
      .map(_.map(_._1)).toSeq)(rs => rs.foreach(r => warmWork(r, workload)))
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]
    var exhausted = false
    val windows = ArrayBuffer.empty[(Long, Long, Counters, Counters)]
    def window(idx: Int, tr: Tracer, streams: Seq[Iterator[Req]]): Unit = {
      val w = new Work(spark, a("data"), s"$work/out/w$idx", tr)
      val c0 = Counters.now()
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      parallel(streams) { it =>
        while (System.nanoTime() < deadline && it.hasNext) {
          val r = it.next()
          val t0 = System.nanoTime()
          val (err, out) =
            try (null, tr.span("request", r.id)(w(r, workload)))
            catch { case e: Throwable =>
              (Option(e.getMessage).getOrElse(e.getClass.getName), null)
            }
          val t1 = System.nanoTime()
          recs.add(if (out == null) Rec(idx, r, t0, t1, err, 0, 0, 0, null)
            else Rec(idx, r, t0, t1, null, out.items, out.resultRows,
              out.keptBytes, if (r.check) out.frames else null))
        }
        if (!it.hasNext) exhausted = true
      }
      windows += ((start, System.nanoTime(), c0, Counters.now()))
    }

    val streams = clients.map(_.iterator)
    val listener = new JobListener
    val tracer = new Tracer(trace, spark.sparkContext)
    if (trace) for (i <- 0 until 4) {
      // untraced, traced, traced, untraced: a linear drift over the run
      // (JIT, caches) cancels in the overhead comparison
      if (i == 0 || i == 3) window(i, new Tracer(false, spark.sparkContext), streams)
      else {
        val sc = spark.sparkContext
        sc.addSparkListener(listener)
        window(i, tracer, streams)
        sc.setLocalProperty(Tracer.SpanKey, Tracer.Drain)
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty(Tracer.SpanKey, null)
        listener.awaitDrain()
        sc.removeSparkListener(listener)
      }
    } else window(0, tracer, streams)
    spark.stop()

    writeLines(s"$work/ops.tsv", recs.asScala.toSeq.sortBy(_.t0).map { x =>
      Seq(x.window, x.r.client, x.r.seq, x.r.kind, x.t0, x.t1, x.items,
        x.rows, x.keptBytes,
        Option(x.err).map(_.replaceAll("\\s+", " ").take(300)).getOrElse(""))
        .mkString("\t")
    })
    writeLines(s"$work/results.jsonl", recs.asScala.toSeq
      .filter(_.frames != null).sortBy(_.t0).map { x =>
        val frames = x.frames.map { case (k, f) =>
          s"${Json.str(k)}:{\"cols\":${f.cols.map(Json.str).mkString("[", ",", "]")}," +
            s"\"rows\":${f.rows.map(Json.row).mkString("[", ",", "]")}}"
        }
        s"""{"client":${x.r.client},"seq":${x.r.seq},"kind":${Json.str(x.r.kind)},""" +
          s""""params":${x.r.params.map(Json.str).mkString("[", ",", "]")},""" +
          s""""frames":{${frames.mkString(",")}}}"""
      })
    writeLines(s"$work/spans.jsonl", tracer.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${Json.str(s.req)},""" +
        s""""layer":${Json.str(s.layer)},"t0":${s.startNs},"t1":${s.endNs},""" +
        s""""compiles":${s.delta.compiles},"compile_ns":${s.delta.compileNs},""" +
        s""""files_discovered":${s.delta.filesDiscovered},""" +
        s""""file_cache_hits":${s.delta.fileCacheHits}}"""
    })
    writeLines(s"$work/jobs.jsonl", listener.jobs.values.asScala.toSeq
      .sortBy(_.id).map { j =>
        val f = Seq("stages" -> j.stages, "tasks" -> j.tasks,
          "task_failures" -> j.taskFailures, "run_ms" -> j.runMs,
          "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
          "spill" -> j.spill, "input_bytes" -> j.inputBytes,
          "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes,
          "output_records" -> j.outputRecords, "blocks" -> j.blocks,
          "block_bytes" -> j.blockBytes)
          .map { case (k, v) => s""""$k":${v.get}""" }
        s"""{"id":${j.id},"span":${Json.str(j.span)},"t0_ms":${j.startMs},""" +
          s""""t1_ms":${j.endMs},${f.mkString(",")}}"""
      })
    val ws = windows.zipWithIndex.map { case ((s, e, c0, c1), i) =>
      val d = c1 - c0
      s"""{"window":$i,"t0":$s,"t1":$e,"compiles":${d.compiles},""" +
        s""""compile_ns":${d.compileNs},"files_discovered":${d.filesDiscovered},""" +
        s""""file_cache_hits":${d.fileCacheHits}}"""
    }
    writeLines(s"$work/summary.json", Seq(
      s"""{"workload":${Json.str(workload)},"cpus":$cpus,""" +
        s""""setup_s":$setupS,""" +
        s""""windows":${ws.mkString("[", ",", "]")},"exhausted":$exhausted,""" +
        s""""peak_rss_kb":${peakRssKb()}}"""))
  }

  /** Runs `body` on each element in its own thread and waits for all;
    * the first exception any thread threw is rethrown. */
  private def parallel[T](xs: Seq[T])(body: T => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = xs.map(x => new Thread(() =>
      try body(x) catch { case e: Throwable => err.compareAndSet(null, e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** Peak resident set size of this process (Linux VmHWM), or the
    * committed heap where /proc is unavailable. */
  private def peakRssKb(): Long = {
    val status = new File("/proc/self/status")
    if (status.canRead) Files.readAllLines(status.toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
    else Runtime.getRuntime.totalMemory / 1024
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(path), UTF_8)
    try lines.foreach(w.println) finally w.close()
  }
}

/** Minimal JSON rendering for result rows. Doubles use
  * `Double.toString`, which round-trips every value exactly (including
  * -0.0), so the checker compares bit patterns. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Double.toString(f.toDouble)
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case d: java.math.BigDecimal => str(d.toPlainString)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => row(r)
    case other => str(other.toString)
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("[", ",", "]")
}

package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A collected result: its schema and rows. */
final case class Rows(schema: StructType, data: Array[Row])

object Rows {
  def apply(df: DataFrame): Rows = Rows(df.schema, df.collect())
}

/** A wrong output: the call it convicts and why. */
final case class Check(call: String, run: () => Option[String])

/** An output checked against DuckDB: the call's rows and the SQL that
  * recomputes them over the generated tables (view name -> file name).
  */
final case class Oracle(call: String, rows: Rows, sql: String, tables: Seq[String])

final class CallFailed(val call: String, cause: Throwable) extends Exception(cause)

/** One pass of a workload: each `call` is one public-function call of the
  * engine, made after the previous one finished (closed loop, one client
  * thread). Its span is named `layer.Object.fn`.
  */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    tracer: Tracer, val pass: Int, parent: Int) {
  val outputs = mutable.LinkedHashMap.empty[String, Any]

  def path(table: String): String = s"$inputs/$table.parquet"

  def call[A](layer: String, name: String)(body: => A): A = {
    val (_, r) = tracer.span(s"$layer.$name", layer, parent, pass)(_ => body)
    r match {
      case Right(v) => outputs(name) = v; v
      case Left(t) => throw new CallFailed(name, t)
    }
  }

  def scratchPath(name: String): String = s"$work/scratch/$name"

  /** A directory of this pass's scratch outputs, emptied first. */
  def scratch(name: String): String = {
    Main.deleteTree(new File(scratchPath(name)))
    scratchPath(name)
  }
}

trait Workload {
  /** The ordered call list of one pass. */
  def pass(c: Ctx): Unit
  /** Checks of the last timed pass's outputs; run untimed. */
  def checks(c: Ctx): Seq[Check]
  /** Outputs that DuckDB recomputes from the same inputs. */
  def oracles(c: Ctx): Seq[Oracle] = Nil
}

object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
      inputs: String, warm: String, work: String, result: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("warm"), m("work"), m("result"))
  }

  val Cores = 4
  /** Whole timed passes a run makes at least, so that the per-pass
    * metrics are medians of several passes even when one pass outlasts
    * `--seconds`.
    */
  val MinPasses = 2

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val heap = new HeapWatch
    val spark = session(a.work)
    val sc = spark.sparkContext
    val cpu = new CpuListener
    sc.addSparkListener(cpu)
    val traceL = if (a.trace) Some(new TraceListener) else None
    traceL.foreach(sc.addSparkListener)
    val streamL = if (a.trace) Some(new StreamListener) else None
    streamL.foreach(spark.streams.addListener)
    val sessionReadyMs = System.currentTimeMillis()
    val wl = Workloads(a.workload)

    // untimed warm-up: the same call list on the small inputs of the seed
    val warmStart = System.nanoTime()
    val warmTracer = new Tracer(sc, false)
    val warmErr = try { wl.pass(new Ctx(spark, a.warm, a.work, warmTracer, 0, 0)); None }
    catch { case f: CallFailed => Some(s"${f.call}: ${f.getCause}") }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupEndMs = System.currentTimeMillis()

    // timed closed loop: whole passes until the run's seconds are spent
    // and at least MinPasses are done
    val threads = ManagementFactory.getThreadMXBean
    val tracer = new Tracer(sc, a.trace)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
    var last: Ctx = null
    val t0 = System.nanoTime()
    var p = 0
    while (errors.isEmpty && (p < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      p += 1
      BenchBus.drain(sc)
      // every pass starts from the same heap: a full GC, outside the pass
      System.gc()
      heap.reset()
      val cpu0 = cpu.cpuNs
      val driver0 = threads.getCurrentThreadCpuTime
      var ctx: Ctx = null
      val (span, r) = tracer.span("pass", "harness", 0, p) { id =>
        ctx = new Ctx(spark, a.inputs, a.work, tracer, p, id)
        wl.pass(ctx)
      }
      BenchBus.drain(sc)
      r.left.foreach {
        case f: CallFailed =>
          System.err.println(s"[graftbench] ${f.call} failed:")
          f.getCause.printStackTrace()
          errors += Map("call" -> f.call, "error" -> String.valueOf(f.getCause))
        case t => throw t
      }
      passes += Map("pass" -> p, "wall_s" -> (span.endNs - span.startNs) / 1e9,
        "cpu_s" -> (cpu.cpuNs - cpu0) / 1e9,
        "driver_cpu_s" -> (threads.getCurrentThreadCpuTime - driver0) / 1e9,
        "peak_heap_mib" -> heap.peakMiB)
      last = ctx
    }

    // untimed output checks on the last pass
    val checkRes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val oracleRes = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (errors.isEmpty) {
      wl.checks(last).foreach { ch =>
        val err = try ch.run() catch { case t: Throwable => Some(s"check raised $t") }
        checkRes += Map("call" -> ch.call, "ok" -> err.isEmpty, "detail" -> err.getOrElse(""))
      }
      wl.oracles(last).zipWithIndex.foreach { case (o, i) =>
        val out = s"${a.work}/oracle/$i"
        spark.createDataFrame(java.util.Arrays.asList(o.rows.data: _*), o.rows.schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
        oracleRes += Map("call" -> o.call, "sql" -> o.sql, "path" -> out, "tables" -> o.tables)
      }
    }

    val calls = tracer.spans.filter(_.layer != "harness").map { s =>
      Map("name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
        "wall_s" -> (s.endNs - s.startNs) / 1e9, "failed" -> s.failed)
    }
    val result = Map(
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "warm_s" -> warmS,
      "warm_error" -> warmErr,
      "warm_calls" -> warmTracer.spans.map(s => Map("name" -> s.name, "wall_s" -> (s.endNs - s.startNs) / 1e9)),
      "passes" -> passes,
      "calls" -> calls,
      "errors" -> errors,
      "checks" -> checkRes,
      "oracles" -> oracleRes)
    write(a.result, result)

    for (tl <- traceL; st <- streamL) {
      BenchBus.drain(sc)
      val spans = tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "wall_s" -> (s.endNs - s.startNs) / 1e9, "failed" -> s.failed,
          "tag" -> tracer.tag(s.id))
      }
      val jobs = tl.synchronized(tl.jobs.values.toSeq).map { j =>
        Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tags" -> j.tags.toSeq,
          "stages" -> j.listed, "stages_run" -> j.stagesRun, "tasks" -> j.tasks,
          "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
          "result" -> j.result, "read" -> j.read, "written" -> j.written)
      }
      val stream = st.synchronized(st.batches.toList)
      write(a.result.stripSuffix(".json") + ".trace.json",
        Map("cores" -> Cores, "spans" -> spans, "jobs" -> jobs, "stream" -> stream))
    }
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, value: Any): Unit = json.writeValue(new File(path), value)
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.{Sinks, Tables}
import graft.etl.{F1Pipeline, F1Schema}

/** JVM side of the benchmark: one closed loop with one client thread.
  *
  * `run.py` writes a JSON config (workload, inputs, per-pass op orders,
  * warm-up and timed pass counts, trace flag) and reads back the JSON this writes: every op's
  * latency and outcome, the warm-up pass times, and, in a traced run, the
  * spans with the listener counts charged to each. An op is one timed call
  * into the engine; a pass is the workload's op list run once.
  *
  * Usage: PerfBench <config.json>
  */
object PerfBench {

  final case class Op(pass: Int, traced: Boolean, name: String, durS: Double,
      constructS: Double, executeS: Double, ok: Boolean, error: String)

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    def str(k: String) = (cfg \ k).extract[String]
    val workload = str("workload")
    val cores = (cfg \ "cores").extract[Int]
    val work = Paths.get(str("work"))
    val timedPasses = (cfg \ "timed_passes").extract[Int]
    val trace = (cfg \ "trace").extract[Boolean]
    val warmupPasses = (cfg \ "warmup_passes").extract[Int]

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace)
      builder.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val t0 = System.nanoTime()
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) spark.sparkContext.addSparkListener(new TaskListener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val orders = (cfg \ "orders").extract[Seq[Seq[String]]]
    val passFn: (Int, Boolean, Boolean) => Seq[Op] = workload match {
      case "star_etl" => starPass(spark, str("csv"), str("star_out"))
      case "query_mix" => queryPass(spark, str("corpus"), str("check_dir"), orders)
    }
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => orders.flatten.contains(n) }
    val scratchRoots = Seq(sys.props("graft.scratch.dir"),
      sys.props("java.io.tmpdir")).map(Paths.get(_))

    // Untimed warm-up. The first pass also writes every query's result for
    // the correctness check; later ones let JIT and first-touch costs settle.
    val warmup = (0 until warmupPasses).map { p =>
      val w0 = System.nanoTime()
      passFn(-1 - p, false, p == 0)
      (System.nanoTime() - w0) / 1e9
    }
    Hygiene.keep(scratchRoots)

    val firstOpEpochMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    // A traced run orders its timed passes untraced, traced, traced,
    // untraced (and so on), so that a drift in pass time that is still
    // linear after the warm-up weighs on both sides of the tracing
    // overhead alike. Events still queued from an untraced pass are
    // delivered before tracing starts.
    val ops = (0 until timedPasses).flatMap { p =>
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) org.apache.spark.PerfBenchBus.drain()
      Trace.enabled = traced
      try passFn(p, traced, false) finally Trace.enabled = false
    }

    val result = JObject(
      "session_s" -> JDouble(sessionS),
      "warmup_pass_s" -> JArray(warmup.map(JDouble(_)).toList),
      "first_op_epoch_ms" -> JLong(firstOpEpochMs),
      "oracle" -> JObject(oracle.toList.map { case (n, q) => n -> JString(q) }),
      "vmhwm_kb" -> JLong(vmHwmKb()),
      "ops" -> JArray(ops.map { o =>
        JObject("pass" -> JInt(o.pass), "traced" -> JBool(o.traced),
          "name" -> JString(o.name), "dur_s" -> JDouble(o.durS),
          "construct_s" -> JDouble(o.constructS),
          "execute_s" -> JDouble(o.executeS), "ok" -> JBool(o.ok),
          "error" -> JString(o.error))
      }.toList),
      "spans" -> JArray(Trace.all.map { s =>
        JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent),
          "name" -> JString(s.name), "layer" -> JString(s.layer),
          "pass" -> JInt(s.pass), "dur_s" -> JDouble((s.endNs - s.startNs) / 1e9),
          "start_s" -> JDouble((s.startNs - loop0) / 1e9),
          "counts" -> JObject(s.counters.snapshot.toList.sortBy(_._1)
            .map { case (k, v) => k -> JDouble(v) }))
      }.toList))
    Files.write(Paths.get(str("result")),
      JsonMethods.compact(JsonMethods.render(result)).getBytes("UTF-8"))
    spark.stop()
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** One pass of a query workload: each op constructs one `SparkEntry`
    * query and runs its terminal write, the `noop` sink when timed. */
  private def queryPass(spark: SparkSession, corpus: String, checkDir: String,
      orders: Seq[Seq[String]])(pass: Int, traced: Boolean,
      check: Boolean): Seq[Op] = {
    val order = orders(math.max(pass, 0) % orders.size)
    order.map { name =>
      val filesBefore = if (traced) Hygiene.files() else 0L
      val spanIdx = Trace.size
      val t0 = System.nanoTime()
      var construct = 0.0
      val outcome = Trace.span(name, "op", pass) {
        try {
          val df = Trace.span("construct", "queries", pass) {
            SparkEntry.queries(name)(spark, corpus)
          }
          construct = elapsed(t0)
          Trace.span("execute", "queries", pass) {
            if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Throwable => Some(errorOf(e)) }
      }
      val dur = elapsed(t0)
      if (traced) Trace.at(spanIdx).foreach(
        _.counters.add("jvm.files_created",
          math.max(0L, Hygiene.files() - filesBefore).toDouble))
      spark.catalog.clearCache()
      Hygiene.sweep()
      Op(pass, traced, name, dur, construct, dur - construct, outcome.isEmpty,
        outcome.getOrElse(""))
    }
  }

  /** One pass of `F1Pipeline.run`, split at its layer calls: `buildAll`
    * once, then `Sinks.parquet` for each of the 16 tables in the order
    * `run` writes them. */
  private def starPass(spark: SparkSession, csv: String, out: String)(
      pass: Int, traced: Boolean, check: Boolean): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    def op[T](name: String, layer: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Right(Trace.span(name, layer, pass)(body))
        catch { case e: Throwable => Left(errorOf(e)) }
      val dur = elapsed(t0)
      ops += Op(pass, traced, name, dur, 0.0, dur, r.isRight, r.left.getOrElse(""))
      r.toOption
    }
    op("buildAll", "etl") {
      F1Pipeline.buildAll(Tables.csv(spark, csv, F1Schema.wide))
    }.foreach(_.foreach { case (table, df) =>
      val path = s"$out/$table"
      val spanIdx = Trace.size
      op(s"Sinks.parquet:$table", "core.Sinks")(Sinks.parquet(df, path))
      Trace.at(spanIdx).foreach { s =>
        val files = Hygiene.dataFiles(Paths.get(path))
        s.counters.add("core.Sinks.files_written", files.size)
        s.counters.add("core.Sinks.bytes_written", files.map(Files.size).sum.toDouble)
      }
    })
    spark.catalog.clearCache()
    ops.toSeq
  }

  private def vmHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L) finally src.close()
    } catch { case _: Throwable => -1L }
}

/** Scratch hygiene between ops: whatever an op leaves under the scratch
  * roots beyond what set-up created is removed, so a long run does not
  * fill the disk and later ops do not find earlier ops' leftovers. */
object Hygiene {
  private var roots: Seq[Path] = Nil
  private var kept: Set[Path] = Set.empty

  def keep(rs: Seq[Path]): Unit = {
    roots = rs.filter(Files.isDirectory(_))
    kept = roots.flatMap(list).toSet
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def walk(p: Path): Seq[Path] =
    try {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    } catch { case _: Throwable => Nil }

  def files(): Long = roots.map(r => walk(r).count(Files.isRegularFile(_))).sum.toLong

  def dataFiles(dir: Path): Seq[Path] =
    walk(dir).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }

  def sweep(): Unit =
    roots.flatMap(list).filterNot(kept).foreach { p =>
      walk(p).reverse.foreach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
    }
}

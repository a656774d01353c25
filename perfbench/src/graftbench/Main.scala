package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Entry point of one benchmark run (see perfbench/README.md).
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --pins FILE --out FILE --trace-out FILE
  *
  * Sets the session up `SetupRepeats` times (reporting the median), times
  * the box-control probe, warms the workload up untimed, repeats whole
  * closed-loop units until `--seconds` have passed (at least `MinUnits`),
  * checks every output and writes the result object to `--out`. A traced
  * run measures an untraced half and a traced half and reports per-layer
  * metrics from the traced half. */
object Main {
  val Workloads = Seq("wx_daily", "query_mix")
  val SetupRepeats = 5
  val MinUnits = 2
  val WxSizes = WxDaily.Sizes(cities = 100, days = 2, victims = 6, dupes = 3)
  val WxWarmSizes = WxDaily.Sizes(cities = 20, days = 1, victims = 3, dupes = 1)
  val Modules = Seq("etl", "sql", "queries", "ops", "store", "sources")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(throw new IllegalArgumentException(s"missing --$k")))
    Args(get("workload"), get("seed", "1").toLong, get("seconds", "10").toInt, get("trace", "0") == "1",
      get("data", ""), get("work", ""), get("pins", ""), get("out", ""),
      get("trace-out", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.workload match {
      case "selftest" => SelfTest.run()
      case w if Workloads.contains(w) => Result.write(a, run(a)); 0
      case w => System.err.println(s"unknown workload $w (one of ${Workloads.mkString(", ")})"); 2
    }
    sys.exit(code)
  }

  final case class SetupTimes(start: Double, warmup: Double, prep: Double) {
    def total: Double = start + warmup + prep
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  /** Progress line on stderr (run.py forwards it to its own stderr). */
  def log(msg: String): Unit = System.err.println(f"[graftbench] ${secs(born)}%7.2fs $msg")

  /** Session start + a fixed warm-up probe + the workload's input
    * preparation, `SetupRepeats` times; every session but the last is
    * stopped. */
  def setup(a: Args): (SparkSession, Seq[SetupTimes]) = {
    var spark: SparkSession = null
    val times = (0 until SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Sessions.local("graftbench")
      val start = secs(t0)
      val t1 = System.nanoTime()
      spark.range(0, 200000, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("id % 97 AS k").groupBy("k").count().collect()
      spark.read.parquet(s"${a.dataDir}/lineitem.parquet").limit(1000).count()
      val warm = secs(t1)
      val t2 = System.nanoTime()
      if (a.workload == "query_mix")
        TableDml.prepare(spark, a.dataDir, s"${a.workDir}/warehouse$i")
      log(f"setup $i: session $start%.2fs, warm-up probe $warm%.2fs, prep ${secs(t2)}%.2fs")
      SetupTimes(start, warm, secs(t2))
    }
    (spark, times)
  }

  /** The fixed `range()`/`xxhash64` compute-and-shuffle probe no program
    * code touches: it moves with the machine, never with the repo. */
  def boxControl(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("xxhash64(id) AS h").selectExpr("pmod(h, 1024) AS k", "h AS v")
      .groupBy("k").sum("v").count()
    secs(t0)
  }

  final case class Outcome(
      h: Harness,
      w: Workload,
      setups: Seq[SetupTimes],
      warmPassS: Double,
      boxS: Double,
      untraced: Seq[Sample],
      traced: Seq[Sample],
      tracedWallNs: Long,
      lines: Seq[(String, Double, String)])

  def run(a: Args): Outcome = {
    Files.createDirectories(Paths.get(a.workDir))
    log("start")
    val (spark, setups) = setup(a)
    val tracer = new Tracer(false, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val h = new Harness(spark, a, tracer)
    val box = boxControl(spark)
    log(f"setup done, box control $box%.3fs")
    val w: Workload = a.workload match {
      case "wx_daily"  => new WxWorkload(h)
      case "query_mix" => new QueryMixWorkload(h, setups.size - 1)
    }
    val tw = System.nanoTime()
    w.warm()
    val warmPass = secs(tw)
    log("warm pass done")
    var next = 0
    def measure(seconds: Double, minUnits: Int): Seq[Sample] = {
      h.samples.clear()
      val t0 = System.nanoTime()
      val first = next
      while (next - first < minUnits || secs(t0) < seconds) {
        w.unit(next)
        next += 1
        h.sampleHeap()
      }
      h.samples.toSeq
    }
    var tracedWall = 0L
    val (untraced, traced) =
      if (!a.trace) (measure(a.seconds, MinUnits), Seq.empty)
      else {
        val u = measure(a.seconds / 2.0, 1)
        h.probe.foreach(_.fromMs = System.currentTimeMillis())
        tracer.enabled = true
        val t0 = System.nanoTime()
        val t = tracer.span(s"workload.${a.workload}")(measure(a.seconds / 2.0, 1))
        tracedWall = System.nanoTime() - t0
        tracer.enabled = false
        (u, t)
      }
    h.samples.clear()
    log(s"timed region done: $next units, ${untraced.size + traced.size} samples")
    log("median ms by kind: " + Stats.byKind(untraced).toSeq.sortBy(_._1).map { case (k, (m, n, _)) =>
      f"$k $m%.1f (n=$n)" }.mkString(", "))
    w.finish()
    h.probe.foreach { p =>
      p.drain()
      attachWrites(h, p, w)
    }
    val lines = w.lines(if (a.trace) traced else untraced)
    log("checks done")
    spark.stop()
    log("session stopped")
    Outcome(h, w, setups, warmPass, box, untraced, traced, tracedWall, lines)
  }

  /** Turns every file write the workload classifies into a span under the
    * layer call that issued it, and moves its wall time from that call's
    * module to the write's own. */
  private def attachWrites(h: Harness, p: SparkProbe, w: Workload): Unit =
    p.executions.filter(e => e.root == e.id).foreach { e =>
      e.writePath.flatMap(w.writeLayer).foreach { case (layer, module) =>
        val durNs = (e.endMs - e.startMs) * 1000000L
        h.tracer.attach(s"$layer.write", h.tracer.nanosAt(e.startMs), h.tracer.nanosAt(e.endMs))
        h.add(s"$layer.write_s", durNs / 1e9)
        p.groupOf(e.id).filter(_ != module).foreach { g =>
          h.moduleWallNs(g) = h.moduleWallNs.getOrElse(g, 0L) - durNs
          h.moduleWallNs(module) = h.moduleWallNs.getOrElse(module, 0L) + durNs
        }
      }
    }
}

/** One workload: an untimed warm-up, a closed-loop unit (pass, round or
  * episode) numbered from 0, a final check, and the workload-specific
  * figures printed beside the common end-to-end metrics.
  *
  * Every timed op is a [[Sample]] of some kind (a query, a batch position,
  * a statement type). The end-to-end figures take each op at its kind's
  * median over the run's repeats ([[Stats.typicalMs]], [[Stats.workPerS]]),
  * so one slow repeat cannot swing them. */
trait Workload {
  /** Kinds of the user-facing op, whose latency `op_ms` reports. */
  def userKind(kind: String): Boolean
  /** Kinds of the ops whose work `work_per_s` counts. */
  def workKind(kind: String): Boolean
  def warm(): Unit
  def unit(i: Int): Unit
  def finish(): Unit = ()
  def lines(samples: Seq[Sample]): Seq[(String, Double, String)]
  /** (layer, module) of a file write the program issued, by its output path. */
  def writeLayer(path: String): Option[(String, String)] = None

  def opMs(s: Seq[Sample]): Double = Stats.typicalMs(s.filter(x => userKind(x.kind)))
  def workPerS(s: Seq[Sample]): Double = Stats.workPerS(s.filter(x => workKind(x.kind)))
}

object Workload {
  def ms(samples: Seq[Sample], kind: String => Boolean): Seq[Double] =
    samples.filter(s => kind(s.kind)).map(_.ms)

  /** `name_p50`/tail lines by the percentile rule, with sample counts. */
  def latencyLines(prefix: String, unit: String, scale: Double, xs: Seq[Double]): Seq[(String, Double, String)] =
    if (xs.isEmpty) Nil
    else {
      val p50 = (s"${prefix}_p50_$unit", Stats.median(xs) * scale, s"$unit n=${xs.size}")
      val tail = Stats.tailPercentile(xs.size).filter(_ > 50).map { p =>
        (s"${prefix}_p${if (p == p.floor) p.toInt.toString else p.toString}_$unit",
          Stats.percentile(xs, p) * scale, s"$unit n=${xs.size}")
      }
      p50 +: tail.toSeq
    }
}

/** Ops are daily batches, of kind `batch<day>` (a batch re-reads all the
  * bronze landed before it, so each day of an episode is its own kind). */
final class WxWorkload(h: Harness) extends Workload {
  private val a = h.args
  private val base = LocalDateTime.of(2024, 1, 1, 6, 0).plusDays(a.seed % 300)
  private def root(tag: String): Path = Paths.get(a.workDir, s"wx-$tag")
  def userKind(kind: String): Boolean = true
  def workKind(kind: String): Boolean = true
  override def writeLayer(path: String): Option[(String, String)] = WxDaily.writeLayer(path)

  private def runEpisode(tag: String, sizes: WxDaily.Sizes, seed: Long, record: Boolean): Unit = {
    val r = root(tag)
    val ms = WxDaily.episode(h, r, sizes, seed, base)
    if (record && ms.size == sizes.days)
      ms.zipWithIndex.foreach { case (m, d) => h.record(s"batch$d", m, 41.0 * sizes.cities) }
    Dirs.delete(r)
  }

  def warm(): Unit = runEpisode("warm", Main.WxWarmSizes, a.seed + 7777, record = false)
  def unit(i: Int): Unit = runEpisode(s"e$i", Main.WxSizes, a.seed * 131 + i, record = true)

  def lines(s: Seq[Sample]): Seq[(String, Double, String)] =
    if (s.isEmpty) Nil
    else Seq(
      ("wx_batch_p50_s", Stats.median(s.map(_.ms)) / 1000.0, s"s n=${s.size}"),
      ("wx_records_per_s", s.map(_.work).sum / (s.map(_.ms).sum / 1000.0), "1/s"))
}

/** An analyst's session against one warehouse, as one pass: each analyst
  * SQL entry (planning- and scheduling-bound) and each corpus operator
  * (execution- and kernel-bound) in seeded order, then one seeded DML
  * round on the snapshot table (three commits, then reads). The round
  * comes last so the heap is always sampled after the same block.
  * An op's kind is its entry name or its statement type. `op_ms` covers
  * the reads an analyst waits on (SQL entries and table reads);
  * `work_per_s` counts every op. */
final class QueryMixWorkload(h: Harness, warehouseIdx: Int) extends Workload {
  private val a = h.args
  private val pins = Pins.load(a.pinsPath, "sql") ++ Pins.load(a.pinsPath, "ops")
  private val docs = h.spark.read.parquet(s"${a.dataDir}/documents.parquet").count().toDouble
  private def isOp(n: String) = CorpusMix.Ops.contains(n)
  private val gen = new TableDml(h.spark, a.dataDir, a.seed)
  private val rounds = ArrayBuffer.empty[TableDml.Round]
  val tableRoot: Path = Paths.get(a.workDir, s"warehouse$warehouseIdx", "db", "orders")
  private var liveRatio = 0.0
  private val Commits = Set("append", "merge", "delete")
  private val Reads = Set("point", "range", "aggregate")
  def userKind(kind: String): Boolean = !isOp(kind) && !Commits.contains(kind)
  def workKind(kind: String): Boolean = true

  private def entry(n: String, record: Boolean): Unit = {
    val fn = graft.SparkEntry.queries(n)
    val module = if (isOp(n)) "ops" else "queries"
    h.op(s"op.$n") {
      val rows = h.layer(module, if (isOp(n)) s"ops.$n" else "queries.query")(h.countRows(fn(h.spark, a.dataDir)))
      if (h.tracing && isOp(n)) h.add("ops.docs", docs)
      rows
    }(rows => h.check(n, rows == pins(n), s"rows $rows != pinned ${pins(n)}"))
      .filter(_ => record).foreach(h.record(n, _, 1.0))
  }

  private def dmlRound(i: Int, record: Boolean): Unit = {
    val rd = gen.round(i + 1)
    rounds += rd
    val filesBefore = Dirs.files(tableRoot, TableDml.isData).size
    val bytesBefore = Dirs.bytes(tableRoot)
    gen.runRound(h, rd).foreach { case (kind, ms) =>
      if (record) h.record(kind, ms, 1.0)
      if (h.tracing) h.add(s"store.${kind}_ms_sum", ms)
    }
    if (h.tracing) {
      h.add("store.files_added", Dirs.files(tableRoot, TableDml.isData).size - filesBefore)
      h.add("store.bytes_written", Dirs.bytes(tableRoot) - bytesBefore)
      h.add("store.user_rows", TableDml.InsertRows + gen.mergeSource(rd.r).count())
      h.add("store.rounds", 1)
    }
  }

  private def pass(i: Int, order: Seq[String], record: Boolean): Unit =
    order.foreach(n => if (n == "dml") dmlRound(i, record) else entry(n, record))

  private val entries = CorpusMix.Sql ++ CorpusMix.Ops
  def warm(): Unit = pass(-1, entries :+ "dml", record = false)
  def unit(i: Int): Unit = pass(i, new scala.util.Random(a.seed * 7919L + i).shuffle(entries) :+ "dml", record = true)

  /** Replays every executed DML round on a plain DataFrame and compares
    * the table's order-insensitive checksum; measures the space figures. */
  override def finish(): Unit = {
    val spark = h.spark
    h.op("dml.final_checksum") {
      var state = gen.base
      rounds.zipWithIndex.foreach { case (rd, i) =>
        state = gen.replay(state, rd)
        if (i % 4 == 3) state = state.localCheckpoint()
      }
      (TableDml.checksum(state), TableDml.checksum(spark.table(TableDml.Table)))
    } { case (want, got) =>
      val live = Paths.get(a.workDir, "live-once")
      spark.table(TableDml.Table).write.mode("overwrite").parquet(live.toString)
      val liveBytes = Dirs.bytes(live, _.toString.endsWith(".parquet")).toDouble
      val rootBytes = Dirs.bytes(tableRoot).toDouble
      liveRatio = rootBytes / liveBytes
      h.put("dml.live_bytes", liveBytes)
      h.put("dml.live_rows", want._1.toDouble)
      h.put("store.files_live", spark.table("bench.db.`orders$files`").count().toDouble)
      h.put("store.dv_files", Dirs.files(tableRoot, _.toString.contains("/_deletes/")).size.toDouble)
      h.check("dml.checksum", got == want, s"table checksum $got != replay $want")
    }
  }

  def lines(s: Seq[Sample]): Seq[(String, Double, String)] = {
    val q = Workload.ms(s, k => pins.contains(k) && !isOp(k))
    val ops = s.filter(x => isOp(x.kind))
    val c = Workload.ms(s, Commits.contains)
    val r = Workload.ms(s, Reads.contains)
    (if (q.isEmpty) Nil
     else Workload.latencyLines("query", "ms", 1.0, q) :+ ("queries_per_s", q.size / (q.sum / 1000.0), "1/s")) ++
      (if (ops.isEmpty) Nil else Seq(("dataprep_docs_per_s", docs * ops.size / (ops.map(_.ms).sum / 1000.0), "1/s"))) ++
      (if (c.isEmpty) Nil else Seq(("commit_p50_ms", Stats.median(c), s"ms n=${c.size}"))) ++
      Workload.latencyLines("read", "ms", 1.0, r) :+ ("bytes_per_live_byte", liveRatio, "ratio")
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Regular files under `root` (none if it does not exist) matching `pred`. */
  def files(root: Path, pred: Path => Boolean = _ => true): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val b = ArrayBuffer.empty[Path]
        s.filter(p => Files.isRegularFile(p) && pred(p)).forEach(p => b += p)
        b.toSeq
      } finally s.close()
    }

  def bytes(root: Path, pred: Path => Boolean = _ => true): Long = files(root, pred).map(Files.size).sum
}

object Pins {
  /** Pinned row counts of one workload from pins.json: {workload: {query: rows}}. */
  def load(path: String, workload: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path)).get(workload)
    require(node != null, s"no pins for $workload in $path")
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }
}

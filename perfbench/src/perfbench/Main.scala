package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Sessions, SparkEntry}
import graft.operators.TextPipeline
import graft.sources.Tables

/** One benchmark process: set up the engine three times, run one workload
  * in a closed loop with a single client for `--seconds`, check every output
  * outside the timed region, and write `result.json` into the work dir.
  * `run.py` launches it; see README.md in this directory.
  *
  * Usage: perfbench.Main --workload wordcount|mix --inputs DIR --work DIR
  *   --seconds S --seed N [--trace] [--queries a,b,c] [--tokens N] [--fault]
  */
object Main {
  final case class Args(workload: String, inputs: String, work: String, seconds: Double,
      seed: Long, trace: Boolean, queries: Seq[String], tokens: Long, fault: Boolean)

  final case class OpRec(id: Int, name: String, cycle: Int, traced: Boolean, group: String,
      wallS: Double, buildS: Double, start: Long, end: Long,
      phases: Seq[(String, Long, Long)], ok: Boolean, err: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("inputs"), req("work"), req("seconds").toDouble, req("seed").toLong,
      argv.contains("--trace"), kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      kv.get("tokens").map(_.toLong).getOrElse(0L), argv.contains("--fault"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val loadAvg = Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    val tables = Tables.names.filter(t => Files.exists(Paths.get(s"${a.inputs}/$t.parquet")))

    // Set-up, three times: the first from JVM start, the next two from a
    // stopped engine. The median goes to setup_s.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      spark = Sessions.local("perfbench")
      val t1 = System.nanoTime()
      tables.foreach(t => Tables.table(spark, a.inputs, t))
      val t2 = System.nanoTime()
      warmup(spark, a)
      val t3 = System.nanoTime()
      if (i < 3) spark.stop()
      val total = (t3 - t0) / 1e9 + (if (i == 1) (w0 - jvmStart) / 1e3 else 0.0)
      Seq(total, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    log(s"set-up done: ${setups.map(_.map(x => f"$x%.2f").mkString("/")).mkString(", ")} s")
    val sc = spark.sparkContext
    val master = sc.master
    val width = "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt)
    if (!width.exists(_ <= nproc)) {
      System.err.println(s"perfbench: master $master is wider than nproc=$nproc; refusing to report")
      sys.exit(3)
    }

    val trace = if (a.trace) Some(new Trace(spark)) else None
    val threads0 = Thread.activeCount()
    val (ops, checks) = a.workload match {
      case "wordcount" => wordcount(spark, a, trace)
      case "mix" => mix(spark, a, trace)
      case w => sys.error(s"unknown workload $w")
    }
    trace.foreach(_.detach())
    log(s"loop and checks done, ${ops.size} ops")

    val leak = Map(
      "leak.active_streams" -> spark.streams.active.length.toDouble,
      "leak.persistent_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "leak.threads" -> (Thread.activeCount() - threads0).toDouble,
      "leak.heap_after_gc_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0,
      "leak.tmp_entries" -> Option(new java.io.File(sys.props("java.io.tmpdir")).list())
        .map(_.length).getOrElse(0).toDouble,
      "drift.last_over_first" -> drift(ops))
    val layers = trace.map(t => Layers.compute(t, ops.filter(_.traced), a)).getOrElse(Map.empty) ++
      (if (a.trace) Map("trace.overhead" -> overhead(ops)) else Map.empty)
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

    val env = Map("nproc" -> nproc, "master" -> master, "parallelism" -> sc.defaultParallelism,
      "loadavg_start" -> loadAvg, "seed" -> a.seed, "workload" -> a.workload, "trace" -> a.trace)
    val json = Json.obj(
      "env" -> env,
      "setup" -> setups.map(s => Json.obj("total_s" -> s(0), "Sessions.local_s" -> s(1),
        "Tables.schema_s" -> s(2), "setup.warmup_s" -> s(3))),
      "ops" -> ops.map(o => Json.obj("name" -> o.name, "cycle" -> o.cycle, "traced" -> o.traced,
        "wall_s" -> o.wallS, "build_s" -> o.buildS, "ok" -> o.ok, "err" -> o.err)),
      "checks" -> checks,
      "peak_rss_mb" -> rss,
      "leak" -> leak,
      "layers" -> layers)
    Files.write(Paths.get(a.work, "result.json"), json.text.getBytes(StandardCharsets.UTF_8))
    if (a.trace) Layers.writeSpans(trace.get, ops, a, Paths.get(a.work, "spans.jsonl"))
    spark.stop()
    // threads a query left running must not keep the process alive
    sys.exit(0)
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  /** The untimed warm-up op: the flagship job over a small corpus. */
  private def warmup(spark: SparkSession, a: Args): Unit =
    TextPipeline.writeWordCounts(
      TextPipeline.wordCount(Tables.documents(spark, s"${a.inputs}/warmup")),
      s"${a.work}/warmup-out")

  /** Runs `body` as one op: its own job group, and the trace listener on or
    * off as the op asks. `body` returns its phase spans, whether its output
    * checked, and the builder call's time.
    */
  private def timed(spark: SparkSession, trace: Option[Trace], id: Int, name: String, cycle: Int,
      traced: Boolean)(body: => (Seq[(String, Long, Long)], Boolean, Double)): OpRec = {
    trace.foreach(t => if (traced) t.attach() else t.detach())
    val group = s"perfbench-op-$id"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (phases, ok, buildS, err) =
      try { val (p, ok, b) = body; (p, ok, b, "") }
      catch { case e: Throwable => (Nil, false, 0.0, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val e = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    OpRec(id, name, cycle, traced, group, wall, buildS, s, e, phases, ok, err)
  }

  // ------------------------------------------------------------ wordcount

  private def readBack(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), " ")
    Tables.textLines(spark, path).select(parts(0).as("word"), parts(1).cast(LongType).as("cnt"))
  }

  private def wordcount(spark: SparkSession, a: Args, trace: Option[Trace]): (Seq[OpRec], Map[String, Any]) = {
    val out = s"${a.work}/wc-out"
    val expectedTop = Files.readAllLines(Paths.get(a.inputs, "top20.tsv")).asScala.toSeq
      .map(_.split("\t")).map(p => (p(0), p(1).toLong))
    def op(): (Seq[(String, Long, Long)], Boolean, Double) = {
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val wc = TextPipeline.wordCount(Tables.documents(spark, a.inputs))
      val m1 = System.currentTimeMillis(); val n1 = System.nanoTime()
      val sink = if (a.fault)
        wc.withColumn("cnt", col("cnt") + when(col("word") === expectedTop.head._1, 1L).otherwise(0L))
      else wc
      TextPipeline.writeWordCounts(sink, out)
      val m2 = System.currentTimeMillis()
      val top = TextPipeline.topN(readBack(spark, out), 20).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1)))
      val m3 = System.currentTimeMillis()
      (Seq(("build", m0, m1), ("write", m1, m2), ("topn", m2, m3)), top == expectedTop, (n1 - n0) / 1e9)
    }
    // one untimed op at full size: the set-up warm-up corpus is too small
    // to get the hot loops compiled, and the first timed ops would drift
    op()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val ops = Seq.newBuilder[OpRec]
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) {
      ops += timed(spark, trace, i, "wordcount", i, traced = a.trace && i % 2 == 0)(op())
      i += 1
    }
    log(s"timed loop done")
    // Full check of the last written output, outside the timed loop:
    // against the generator's exact counts, its token total, and the RDD twin.
    val got = digest(readBack(spark, out))
    val expected = digest(spark.read.parquet(s"${a.inputs}/expected.parquet"))
    val twin = digest(spark.createDataFrame(TextPipeline.wordCountRdd(spark, Tables.documents(spark, a.inputs)))
      .toDF("word", "cnt"))
    val tokens = readBack(spark, out).agg(sum("cnt")).head().getLong(0)
    val checks = Map[String, Any]("digest" -> got, "digest_expected" -> expected,
      "digest_rdd_twin" -> twin, "tokens" -> tokens, "tokens_expected" -> a.tokens)
    val allOk = got == expected && got == twin && tokens == a.tokens
    (ops.result().map(o => if (allOk) o else o.copy(ok = false)), checks + ("ok" -> allOk))
  }

  // ------------------------------------------------------------ mixes

  /** Every output column rounded where it is floating point, hashed per
    * row, and summed: evaluates every column (a bare count would let the
    * optimizer prune them) and does not depend on row order.
    */
  private def digest(df: DataFrame): String = {
    def canon(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
      case _: MapType => c.cast(StringType)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name.replace("`", "``")}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  private def mix(spark: SparkSession, a: Args, trace: Option[Trace]): (Seq[OpRec], Map[String, Any]) = {
    val names = a.queries.sorted
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    // Reference pass, untimed: rows for the DuckDB oracle and the digest
    // every timed run of the query must reproduce. It also warms the JIT.
    val refs = names.map { n =>
      n -> (try {
        val path = s"${a.work}/ref/$n"
        val df = fns(n)(spark, a.inputs)
        val rows = if (a.fault && n == names.last) df.union(df.limit(1)) else df
        rows.write.mode("overwrite").parquet(path)
        digest(spark.read.parquet(path))
      } catch { case e: Throwable => s"error: ${e.getClass.getName}: ${e.getMessage}".take(500) })
    }.toMap
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(a.work, "oracle.json"),
      Json.obj(names.filter(oracle.contains).map(n => n -> oracle(n)): _*).text.getBytes(StandardCharsets.UTF_8))

    log("reference pass done")
    val corrupted = names.find(n => !refs(n).startsWith("0:") && !refs(n).startsWith("error"))
    val rng = new scala.util.Random(a.seed)
    val ops = Seq.newBuilder[OpRec]
    var cycle = 0
    var id = 0
    // Whole cycles only, so every query has the same weight in the pooled
    // latencies, and at least two (a traced run needs a traced and an
    // untraced one). The count is fixed after the first cycle as the nearest
    // whole number of cycles to --seconds: a loop that stopped at a deadline
    // would run one cycle more or less on small timing differences, and the
    // pooled percentiles would jump with it.
    var cycles = 2
    while (cycle < cycles) {
      val c0 = System.nanoTime()
      for ((n, k) <- rng.shuffle(names).zipWithIndex) {
        // each query traced in one of two consecutive cycles, untraced in
        // the other, so the traced/untraced pair shares its warm-up state
        val traced = a.trace && (cycle + k) % 2 == 0
        ops += timed(spark, trace, id, n, cycle, traced) {
          val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
          val df = fns(n)(spark, a.inputs)
          val m1 = System.currentTimeMillis(); val n1 = System.nanoTime()
          val d = digest(if (a.fault && corrupted.contains(n)) df.filter(lit(false)) else df)
          val m2 = System.currentTimeMillis()
          (Seq(("build", m0, m1), ("drain", m1, m2)), d == refs(n), (n1 - n0) / 1e9)
        }
        id += 1
      }
      if (cycle == 0) cycles = math.max(2, math.round(a.seconds * 1e9 / (System.nanoTime() - c0)).toInt)
      cycle += 1
    }
    (ops.result(), Map[String, Any]("reference_digests" -> refs))
  }

  // ------------------------------------------------------------ summaries

  private def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 1.0 else math.exp(xs.map(math.log).sum / xs.size)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per op name, last run over first run, geometric mean over names; above
    * 1 means later runs slowed. In a traced run each name's runs alternate
    * traced and untraced, balanced across names, so tracing cancels out.
    */
  private def drift(ops: Seq[OpRec]): Double =
    geomean(ops.filter(_.ok).groupBy(_.name).values.filter(_.size >= 2)
      .map(g => g.last.wallS / g.head.wallS).toSeq)

  /** Traced over untraced run time, per op name, geometric mean, minus one. */
  private def overhead(ops: Seq[OpRec]): Double = {
    val ratios = ops.filter(_.ok).groupBy(_.name).values.toSeq.flatMap { g =>
      val (t, u) = g.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(median(t.map(_.wallS)) / median(u.map(_.wallS)))
    }
    geomean(ratios) - 1.0
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

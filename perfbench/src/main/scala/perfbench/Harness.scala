package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.{Op, Sessions, SparkEntry}
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunConfig

/** Benchmark harness. Drives the engine only through its public entry
  * points and writes one JSON result file; `perfbench/run.py` turns that
  * file into the benchmark's result line.
  *
  * Usage (normally launched by run.py):
  *   perfbench.Harness --workload query_mix|daily_pipeline --data DIR
  *     --out DIR --seconds S --seed N --trace 0|1 --cpus N --result FILE
  *     --spans FILE
  *
  * Untraced (trace 0): Sessions.build and one cold iteration (the set-up),
  * [[Workload.warmupIterations]] untimed warm-up iterations, then timed
  * iterations until `seconds` have passed. Traced (trace 1): the same set
  * up and warm-up, then untraced iterations for half the time and traced
  * iterations for the other half, so the tracing overhead is measured in
  * one process. Output checks run once, after the timed iterations,
  * untimed, on the outputs of the last warm-up iteration (query_mix) or
  * of the last iterations (daily_pipeline).
  */
object Harness {

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, seed: Long, trace: Boolean, cpus: Int,
      result: String, spans: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("seed").toLong,
      m("trace") == "1", m("cpus").toInt, m("result"), m("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = Sessions.build("perfbench", a.cpus.toString)
    val buildS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val wl: Workload = a.workload match {
        case "query_mix" => new QueryMix(spark, a)
        case "daily_pipeline" => new DailyPipeline(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val res = run(spark, wl, a, t0, buildS)
      Files.writeString(Paths.get(a.result), Json.obj(res))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** VmHWM: the process's resident-set high-water mark, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def run(spark: SparkSession, wl: Workload, a: Args, t0: Long,
      buildS: Double): Map[String, Any] = {
    val deadlineS = a.seconds
    var pass = 0
    // CPU seconds per iteration, from the cold one on: the program's
    // threads, the JIT compiler threads, the GC's
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val jitS = mutable.ArrayBuffer.empty[Double]
    val gcS = mutable.ArrayBuffer.empty[Double]
    /** seconds the iteration took; the clean-up after it is not timed */
    def iteration(tracer: Tracer): Double = {
      val (p0, j0, g0) = Cpu.sample()
      val ti = System.nanoTime()
      wl.counted(pass, tracer)
      val seconds = (System.nanoTime() - ti) / 1e9
      val (p1, j1, g1) = Cpu.sample()
      cpuS += p1 - p0
      jitS += j1 - j0
      gcS += g1 - g0
      wl.afterIteration()
      pass += 1
      seconds
    }
    // the cold iteration is part of set-up, as every run-daily is a fresh
    // JVM that pays class loading, JIT and codegen again
    val coldS = iteration(Tracer.Off)
    val setupS = (System.nanoTime() - t0) / 1e9
    val warmup = (1 to wl.warmupIterations).map { i =>
      wl.checkedPass = i == wl.warmupIterations
      iteration(Tracer.Off)
    }
    wl.checkedPass = false
    wl.recordCalls = true

    /** Timed iterations for `seconds`, at least one. */
    def loop(seconds: Double, tracer: Tracer, after: () => Unit): Seq[Double] = {
      val times = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      // start another iteration while it would end, on average, no more
      // than half an iteration past the window
      def elapsed = (System.nanoTime() - start) / 1e9
      while (times.isEmpty || elapsed + times.sum / times.size / 2 < seconds) {
        times += iteration(tracer)
        after()
      }
      times.toSeq
    }

    val untracedS = if (a.trace) deadlineS / 2 else deadlineS
    val iters = loop(untracedS, Tracer.Off, () => ())
    val perLayer: Map[String, Any] = if (!a.trace) Map.empty else {
      val sc = spark.sparkContext
      val rec = new SparkRecorder(a.cpus)
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val traceId = f"${a.workload}-${a.seed}%d-${System.currentTimeMillis()}%x"
      val tracer = new SpanTracer(sc, traceId)
      val rows = mutable.ArrayBuffer.empty[Map[String, Double]]
      // epoch-ms offset of System.nanoTime, to line spans up with job times
      val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      var seen = 0
      val traced = loop(deadlineS - untracedS, tracer, () => {
        org.apache.spark.perfbench.ListenerBusDrain(sc)
        val spans = tracer.spans.drop(seen).toSeq
        seen = tracer.spans.size
        rows += Layers.iteration(wl, spans, rec.take(), offsetNs)
      })
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      Files.writeString(Paths.get(a.spans),
        tracer.spans.map(s => Json.obj(Map("trace_id" -> s.traceId, "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs))).mkString("[\n", ",\n", "\n]\n"))
      val names = rows.flatMap(_.keys).distinct
      names.map(n => n -> median(rows.flatMap(_.get(n)).toSeq)).toMap ++ Map(
        "sessions.build_s" -> buildS,
        "sessions.warmup_s" -> (coldS - median(iters)),
        "trace.overhead_s" -> (median(traced) - median(iters)))
    }
    val rss = peakRssMb()
    val checks = wl.check()
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setupS, "sessions_build_s" -> buildS, "cold_s" -> coldS,
      "warmup_s" -> warmup,
      "iterations_s" -> iters, "calls_s" -> wl.calls.toMap,
      "iterations_cpu_s" -> cpuS.slice(1 + warmup.size, 1 + warmup.size + iters.size).toSeq,
      "calls_cpu_s" -> wl.callsCpu.toMap,
      "cpu_s" -> cpuS.toSeq, "jit_s" -> jitS.toSeq, "gc_s" -> gcS.toSeq,
      "executions" -> wl.executions.toMap, "threw" -> wl.threw.toMap,
      "errors" -> wl.errors.toSeq, "iterations" -> wl.iterations,
      "failed_iterations" -> wl.failedIterations,
      "checks" -> checks, "peak_rss_mb" -> rss, "per_layer" -> perLayer,
      "info" -> wl.info)
  }
}

/** One workload: an iteration, the per-call timings of untraced
  * iterations, and the output checks.
  */
trait Workload {
  /** untraced per-call seconds, by call name */
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** the same calls' CPU seconds in the program's threads ([[Cpu]]) */
  val callsCpu = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** operations attempted, by call name (an operation that threw counts) */
  val executions = mutable.LinkedHashMap.empty[String, Int]
  /** operations that threw, by call name */
  val threw = mutable.LinkedHashMap.empty[String, Int]
  val errors = mutable.ArrayBuffer.empty[String]
  var iterations = 0
  var failedIterations = 0
  def iteration(pass: Int, tracer: Tracer): Unit

  /** Untimed iterations after the cold one. After the cold iteration the
    * JIT is still compiling: the next iteration runs about 25% slow and
    * later ones keep getting faster. A count rather than a time budget,
    * so a run slowed by a busy host still starts its timed iterations
    * from the same point of that curve.
    */
  def warmupIterations: Int

  /** set during the last warm-up iteration, whose outputs the checks read */
  var checkedPass = false

  /** An iteration fails when any call in it threw. */
  def counted(pass: Int, tracer: Tracer): Unit = {
    val before = errors.size
    this.pass = pass
    iteration(pass, tracer)
    iterations += 1
    if (errors.size > before) failedIterations += 1
  }

  def afterIteration(): Unit = ()

  /** Runs once per run, after the timed iterations. Each entry: name, ok,
    * detail; entries named "query:<q>" also carry the oracle SQL and the
    * result path.
    */
  def check(): Seq[Map[String, Any]]
  def info: Map[String, Any]

  /** set once set-up and warm-up are over: only timed iterations feed [[calls]] */
  var recordCalls = false
  /** the pass being run, counted from the cold one */
  protected var pass = 0

  protected def timed(call: String, tracer: Tracer)(body: => Unit): Unit = {
    executions(call) = executions.getOrElse(call, 0) + 1
    val cpu0 = Cpu.programS()
    val t0 = System.nanoTime()
    try {
      body
      if ((tracer eq Tracer.Off) && recordCalls) {
        val seconds = (System.nanoTime() - t0) / 1e9
        calls.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += seconds
        callsCpu.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += Cpu.programS() - cpu0
      }
    } catch {
      case e: Throwable =>
        threw(call) = threw.getOrElse(call, 0) + 1
        errors += s"$call: $e"
    }
  }
}

/** The [[QueryMix.names]] bench queries, each built with `op.run` and
  * executed to the noop sink, in an order the seed permutes on every pass.
  */
final class QueryMix(spark: SparkSession, a: Harness.Args) extends Workload {
  /** about 14 s. The JIT still compiles for 2–6 s of CPU per pass after
    * it, against 10 s in the first warm-up pass, and passes keep getting
    * a few percent faster
    */
  val warmupIterations = 3
  val ops: Seq[Op] = QueryMix.names.map(n => SparkEntry.benchQueries.find(_.name == n)
    .getOrElse(throw new NoSuchElementException(s"$n is not a bench query")))

  def order(pass: Int): Seq[Op] =
    new scala.util.Random(a.seed * 1000003L + pass).shuffle(ops)

  def iteration(pass: Int, tracer: Tracer): Unit =
    tracer.span("iteration") {
      order(pass).foreach { op =>
        timed(op.name, tracer) {
          tracer.span(s"query.${op.name}") {
            val df = tracer.span("build") { op.run(spark, a.data) }
            tracer.span("exec") {
              // the checked pass writes each result once for the checks
              if (checkedPass) df.coalesce(1).write.mode("overwrite").parquet(result(op))
              else df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      }
    }

  private def result(op: Op): String = s"${a.out}/check/${op.name}"

  /** A query that threw in the checked pass wrote no result, so DuckDB's
    * check of it fails.
    */
  def check(): Seq[Map[String, Any]] = ops.map { op =>
    Map("name" -> s"query:${op.name}", "ok" -> true, "detail" -> "",
      "result" -> result(op), "oracle" -> SparkEntry.oracleSql.getOrElse(op.name, ""))
  }

  def info: Map[String, Any] = Map("queries" -> ops.size, "data" -> a.data)
}

object QueryMix {
  /** The bench queries the mix runs: the pair kernels (`pair_longs` in
    * item_item_cosine, `posting_pairs` in sparse_cosine_pairs), hilbert_d
    * (hilbert_key), PIP (point_in_polygon), shingle and MinHash kernels
    * (dedup_*), a graph query whose chooser runs eager jobs inside
    * `op.run` (pagerank), and the q1_agg aggregate.
    */
  val names: Seq[String] = Seq("item_item_cosine", "sparse_cosine_pairs",
    "hilbert_key", "point_in_polygon", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "pagerank", "q1_agg")
}

/** `Pipeline.dailyRun(spark, cfg, 0 until 100)` followed by the four
  * writes `graft.Main run-daily` performs, into a fresh directory per
  * iteration.
  */
final class DailyPipeline(spark: SparkSession, a: Harness.Args) extends Workload {
  /** about 9 s; a second one would not fit the run's time */
  val warmupIterations = 1
  val seeds: Range = 0 until 100
  val cfg = RunConfig(a.data, LocalDate.parse(
    Files.readString(Paths.get(a.data, "run_date")).trim))
  /** output directories not yet deleted */
  private val written = mutable.ArrayBuffer.empty[String]
  /** the latest iteration's outputs, kept for the checks */
  private var lastOut: String = ""
  /** the latest untraced iteration's outputs, kept to check the traced
    * replica against the program's own dailyRun
    */
  private var untracedOut: String = ""
  private var tracedOut: String = ""
  /** the latest iteration's (vertices, edges), for the checks */
  private var last: Option[(DataFrame, DataFrame)] = None
  var graph = Map.empty[String, Double]

  def iteration(pass: Int, tracer: Tracer): Unit = {
    // no reuse of the last iteration's cached matrix: every run-daily is
    // its own process (unpersisting is asynchronous, so this costs ~nothing)
    spark.catalog.clearCache()
    val out = s"${a.out}/daily-$pass"
    written += out
    lastOut = out
    if (tracer eq Tracer.Off) {
      untracedOut = out
      untraced(out, tracer)
    } else {
      tracedOut = out
      traced(out, tracer)
    }
  }

  /** The outputs the checks read stay; the rest are deleted. */
  override def afterIteration(): Unit = {
    val (keep, drop) = written.partition(d => d == lastOut || d == untracedOut)
    drop.foreach(d => Harness.deleteRecursively(new File(d)))
    written.clear()
    written ++= keep
  }

  private def untraced(out: String, tracer: Tracer): Unit = {
    var res: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    timed("daily_run", tracer) { res = Pipeline.dailyRun(spark, cfg, seeds) }
    if (res == null) return
    val (matrix, vertices, edges, status) = res
    new File(out).mkdirs()
    timed("write_matrix", tracer) {
      matrix.coalesce(1).write.mode("overwrite").parquet(s"$out/contact_matrix")
    }
    timed("write_graphml", tracer) {
      graft.sources.GraphML.write(vertices, edges, s"$out/network.graphml")
    }
    timed("write_seir_status", tracer) {
      status.write.mode("overwrite").parquet(s"$out/seir_status")
    }
    timed("write_infected", tracer) {
      graft.sim.Seir.infectedPerBlock(status, blocks(vertices))
        .write.mode("overwrite").parquet(s"$out/infected_per_block")
    }
    last = Some((vertices, edges))
  }

  private def blocks(vertices: DataFrame): DataFrame =
    vertices.selectExpr("CAST(node_id AS LONG) AS nodeId", "attrs['block'] AS block")

  /** A replica of `Pipeline.dailyRun` plus Main's writes with each public
    * call in its own span, forced by the action the program uses for it.
    * The cached matrix, which the program first materializes inside the
    * SBM edge collect, is forced here by a count so its cost stays in
    * its own span. The check `daily:replica_matches_dailyRun` compares
    * the replica's outputs with those of the program's own dailyRun.
    */
  private def traced(out: String, tracer: Tracer): Unit = timed("daily_run", tracer) {
    import graft.operators.{Interactions, Scaling}
    tracer.span("iteration") {
      val matrix = tracer.span("matrix") {
        val m = Interactions.totalVsObserved(spark, cfg.dataDir).cache()
        m.count()
        m
      }
      val sizes = tracer.span("scale") {
        Scaling.scaledSizesExact(spark, cfg.dataDir).orderBy(col("event_type"))
          .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq
      }
      val probs = matrix.select(col("a_home").as("block_a"),
        col("b_home").as("block_b"), col("prob"))
      val nodeSizes = sizes.map { case (b, n) => b -> math.max(1L, n / 100) }
      val (vertices, edges, edgeRows) = tracer.span("sbm") {
        val (v, e) = graft.graph.Sbm.generate(spark, nodeSizes, probs, seed = 3696L)
        (v, e, e.collect())
      }
      val adj = tracer.span("adjacency") {
        edgeRows.flatMap(r => Seq(
            r.getString(0).toLong -> r.getString(1).toLong,
            r.getString(1).toLong -> r.getString(0).toLong))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
          .map { case (k, vs) => k -> vs.toArray }
      }
      new File(out).mkdirs()
      tracer.span("write_matrix") {
        matrix.coalesce(1).write.mode("overwrite").parquet(s"$out/contact_matrix")
      }
      tracer.span("write_graphml") {
        graft.sources.GraphML.write(vertices, edges, s"$out/network.graphml")
      }
      val status = tracer.span("seir") {
        val s = graft.sim.Seir.runMany(spark, adj, cfg.beta, cfg.sigma, cfg.gamma,
          initialInfected = adj.keys.toSeq.sorted.take(1), tmax = 50.0, seeds = seeds)
        s.write.mode("overwrite").parquet(s"$out/seir_status")
        s
      }
      tracer.span("infected") {
        graft.sim.Seir.infectedPerBlock(status, blocks(vertices))
          .write.mode("overwrite").parquet(s"$out/infected_per_block")
      }
      val n = nodeSizes.map(_._2).sum.toDouble
      graph = Map("graph.nodes" -> n, "graph.edges" -> edgeRows.length.toDouble,
        "graph.edge_yield" -> (if (n > 1) edgeRows.length / (n * (n - 1) / 2) else 0.0),
        "sources.output_bytes" -> Harness.bytesUnder(new File(out)).toDouble)
      last = Some((vertices, edges))
    }
  }

  def check(): Seq[Map[String, Any]] = {
    def item(name: String)(ok: => (Boolean, String)): Map[String, Any] = {
      val (pass, detail) = try ok catch { case e: Throwable => (false, e.toString) }
      Map("name" -> name, "ok" -> pass, "detail" -> detail)
    }
    val (vertices, edges) = last.getOrElse(
      return Seq(Map("name" -> "daily:outputs", "ok" -> false,
        "detail" -> "no iteration completed")))
    val out = lastOut
    val scaled = item("daily:scaled_sizes_sum") {
      val s = graft.operators.Scaling.scaledSizesExact(spark, cfg.dataDir)
        .agg(sum(col("scaled_size"))).first().getLong(0)
      (s == graft.operators.Scaling.Target, s"sum=$s target=${graft.operators.Scaling.Target}")
    }
    lazy val (gv, ge) = graft.sources.GraphML.read(spark, s"$out/network.graphml")
    val graphml = item("daily:graphml_counts") {
      val (nv, ne, rv, re) = (vertices.count(), edges.count(), gv.count(), ge.count())
      (nv == rv && ne == re, s"vertices $rv/$nv edges $re/$ne")
    }
    lazy val status = spark.read.parquet(s"$out/seir_status")
    val seedsOk = item("daily:seir_seeds") {
      val got = status.select("seed").distinct().collect().map(_.getLong(0)).sorted.toSeq
      (got == seeds.map(_.toLong), s"${got.size} seeds")
    }
    val nodesOk = item("daily:seir_nodes_in_network") {
      val stray = status.select(col("nodeId")).distinct()
        .join(gv.selectExpr("CAST(node_id AS LONG) AS nodeId"), Seq("nodeId"), "left_anti")
        .count()
      (stray == 0, s"$stray node ids outside the network")
    }
    val matrix = Map("name" -> "daily:contact_matrix", "ok" -> true, "detail" -> "",
      "result" -> s"$out/contact_matrix",
      "oracle" -> SparkEntry.oracleSql("total_vs_observed"))
    val replica =
      if (tracedOut.isEmpty || untracedOut.isEmpty) Nil
      else Seq(item("daily:replica_matches_dailyRun") {
        sameOutputs(untracedOut, tracedOut)
      })
    Seq(scaled, graphml, seedsOk, nodesOk, matrix) ++ replica
  }

  /** Whether two iterations wrote the same contact matrix, network edges
    * and SEIR status, row for row.
    */
  private def sameOutputs(want: String, got: String): (Boolean, String) = {
    def same(x: DataFrame, y: DataFrame): Boolean =
      x.count() == y.count() && x.exceptAll(y).isEmpty
    def edges(dir: String) = graft.sources.GraphML.read(spark, s"$dir/network.graphml")._2
    val differ = Seq(
      "contact_matrix" -> (() => same(spark.read.parquet(s"$want/contact_matrix"),
        spark.read.parquet(s"$got/contact_matrix"))),
      "network edges" -> (() => same(edges(want), edges(got))),
      "seir_status" -> (() => same(spark.read.parquet(s"$want/seir_status"),
        spark.read.parquet(s"$got/seir_status")))
    ).collect { case (name, eq) if !eq() => name }
    (differ.isEmpty, if (differ.isEmpty) "same outputs" else s"differ: ${differ.mkString(", ")}")
  }

  def info: Map[String, Any] = Map("data" -> a.data, "run_date" -> cfg.date.toString,
    "seir_seeds" -> seeds.size)
}

/** Turns one traced iteration's spans and Spark totals into per-layer
  * values.
  */
object Layers {
  val pipelineStages = Seq("matrix", "scale", "sbm", "adjacency", "seir", "infected",
    "write_matrix", "write_graphml")

  def iteration(wl: Workload, spans: Seq[Span],
      rec: (Map[Long, SparkTotals], Seq[(Long, Long, Long)], Long, Long),
      offsetNs: Long): Map[String, Double] = {
    val (bySpan, jobs, shuffles, broadcasts) = rec
    val root = spans.find(_.parent == 0).get
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def totalsOf(id: Long): SparkTotals = {
      val t = new SparkTotals
      subtree(id).foreach(i => bySpan.get(i).foreach(t.add))
      t
    }
    val all = new SparkTotals
    bySpan.values.foreach(all.add)
    // time in the iteration with no job running
    val (r0, r1) = ((root.startNs + offsetNs) / 1e6, (root.endNs + offsetNs) / 1e6)
    val busyMs = union(jobs.map { case (_, s, e) => (math.max(s, r0), math.min(e, r1)) }
      .filter { case (s, e) => e > s })
    val rootSelf = root.seconds - children.getOrElse(root.id, Nil).map(_.seconds).sum
    val spark = Map(
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.driver_s" -> math.max(0.0, root.seconds - busyMs / 1e3),
      "spark.executor_run_s" -> all.runMs / 1e3, "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "spark.spill_bytes" -> all.spill.toDouble, "spark.input_bytes" -> all.input.toDouble,
      "spark.task_skew" -> all.maxSkew,
      "spark.peak_execution_memory_bytes" -> all.peakExecMem.toDouble,
      "plans.shuffle_exchanges" -> shuffles.toDouble,
      "plans.broadcast_exchanges" -> broadcasts.toDouble,
      "trace.unattributed_share" -> rootSelf / root.seconds)
    val perWorkload = wl match {
      case q: QueryMix =>
        val perQuery = children.getOrElse(root.id, Nil).flatMap { qs =>
          val name = qs.name.stripPrefix("query.")
          val kids = children.getOrElse(qs.id, Nil)
          kids.map(k => s"query.$name.${k.name}_s" -> k.seconds)
        }
        val builds = spans.filter(_.name == "build")
        perQuery.toMap ++ Map(
          "operators.build_s" -> builds.map(_.seconds).sum,
          "operators.build_jobs" -> builds.map(b => totalsOf(b.id).jobs).sum.toDouble) ++
          pipelineStages.flatMap(s => Seq(s"pipeline.${s}_s" -> 0.0, s"pipeline.$s.jobs" -> 0.0)) ++
          Seq("graph.nodes", "graph.edges", "graph.edge_yield", "sources.output_bytes")
            .map(_ -> 0.0)
      case d: DailyPipeline =>
        val stages = children.getOrElse(root.id, Nil).map(s => s.name -> s).toMap
        pipelineStages.flatMap { s =>
          val sp = stages(s)
          Seq(s"pipeline.${s}_s" -> sp.seconds, s"pipeline.$s.jobs" -> totalsOf(sp.id).jobs.toDouble)
        }.toMap ++ d.graph ++ Map("operators.build_s" -> 0.0, "operators.build_jobs" -> 0.0) ++
          QueryMix.names.flatMap(n => Seq(s"query.$n.build_s" -> 0.0, s"query.$n.exec_s" -> 0.0))
    }
    spark ++ perWorkload
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** CPU seconds of this JVM: the program's own threads apart from the JIT
  * compiler threads and the garbage collector's.
  *
  * On a VM that shares its host, wall time follows the other guests: while
  * the hypervisor runs them, this VM's CPUs stand still, and the same
  * iteration takes 20–30% longer. The CPU seconds the program's threads
  * spend vary less, because stolen time is not charged to the process.
  * The compiler threads are counted apart because how much they still
  * compile after the warm-up depends on how much CPU the host left them
  * during it; the GC's because a collection lands in whichever call
  * happens to be running, and can double the CPU of a short one.
  */
object Cpu {
  private val mx = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** "jit", "gc" or neither, by thread id */
  private val kinds = mutable.HashMap.empty[String, Option[String]]
  /** the latest run time seen of each compiler and GC thread, in ns; kept
    * after the thread ends, so its CPU does not move to the program's
    */
  private val lastNs = mutable.HashMap.empty[String, Long]

  /** Linux cuts thread names to 15 bytes */
  private def kind(name: String): Option[String] =
    if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) Some("jit")
    else if (name.startsWith("GC Thread#") || name.startsWith("G1 ")) Some("gc")
    else None

  private def read(path: String): Option[String] =
    try Some(Files.readString(Paths.get(path)).trim)
    catch { case _: java.io.IOException => None } // the thread has ended

  /** (program, jit, gc) CPU seconds so far */
  def sample(): (Double, Double, Double) = synchronized {
    val process = mx.getProcessCpuTime / 1e9
    Option(new File("/proc/self/task").list()).toSeq.flatten.foreach { tid =>
      val k = kinds.getOrElseUpdate(tid, read(s"/proc/self/task/$tid/comm").flatMap(kind))
      // the first schedstat field is the thread's run time in ns
      if (k.isDefined) read(s"/proc/self/task/$tid/schedstat")
        .foreach(st => lastNs(tid) = st.split(" ")(0).toLong)
    }
    def total(k: String) = lastNs.collect { case (t, ns) if kinds(t).contains(k) => ns }.sum / 1e9
    val (jit, gc) = (total("jit"), total("gc"))
    (process - jit - gc, jit, gc)
  }

  def programS(): Double = sample()._1
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toMap)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

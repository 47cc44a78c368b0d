package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.Tables
import graft.dedup.{BloomDecontaminate, Clusters, ExactDedup, MinHashLSH}
import graft.pipeline.Ingest
import graft.queries.KeyedWorkDir
import graft.similarity.{IvfFlat, SemanticDedup}
import graft.sinks.Sinks
import graft.text.TextOps

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main, checks the saved outputs against DuckDB and prints the result
  * line. This main only drives the program through its public entry points
  * and writes one JSON record (`--out`) with raw timings, the outputs it
  * saved for checking, and, when traced, the per-layer figures.
  *
  * Arguments: --workload curate|ingest|query-mix --data DIR --work DIR
  * --out FILE --seconds S --trace 0|1 --cores C --ready FILE --probe DIR
  * --interval-ms M. The inputs are generated while the JVM starts: the
  * timed set-ups begin once the `--ready` file exists.
  *
  * `--workload none --work DIR --cores C` only makes the first set-up and
  * exits; build.py runs it once to record the class-data archive. */
object Main {

  /** The query-mix families, trimmed to what a run can afford (see
    * perfbench/README.md). Relational keeps seven of baseline-11: the scan
    * aggregate, joins, anti join, window top-k, rollup, vote and JSON
    * shapes. The other families keep one query per program layer: topk q21
    * (`similarity`, `plans` BoundedTopK), iterative q149, and text q29
    * (`text`, `nlp`), q52 (`search`) and q23 (`enrich`). */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01", "q03", "q05", "q06", "q08", "q10", "q11"),
    "topk" -> Seq("q21"),
    "iterative" -> Seq("q149"),
    "text" -> Seq("q29", "q52", "q23"))

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** A JSON value written by hand: the record is flat enough not to need a
    * library, and the encoding stays under this file's control. */
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(a: Args, i: Int): SparkSession = {
    val c = a("cores")
    val work = a("work")
    SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.default.parallelism", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse-$i")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/ckpt-default-$i")
      .getOrCreate()
  }

  /** Points the program's scratch space at a fresh directory, so the
    * skip-if-present stream staging of the keyed work dirs never lets one
    * shot read what an earlier shot staged. */
  def freshTmp(a: Args, tag: String): Unit = {
    val d = new File(s"${a("work")}/tmp-$tag")
    d.mkdirs()
    System.setProperty("java.io.tmpdir", d.getAbsolutePath)
  }

  /** Result rows in a canonical order, for comparing shots of one query. */
  def fingerprint(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  def saveOutput(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)

  /** Saves the outputs for the oracle check, `cores` at a time. */
  def saveOutputs(spark: SparkSession, a: Args, outputs: Seq[(String, Array[Row], StructType)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.int("cores"))
    try {
      outputs.map { case (n, rows, schema) =>
        pool.submit(new Runnable {
          def run(): Unit = saveOutput(spark, rows, schema, s"${a("work")}/out/$n")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  def awaitFile(path: String): Unit = {
    val f = new File(path)
    while (!f.exists()) Thread.sleep(20)
  }

  def peakMemGib(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / (1024.0 * 1024.0)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Highest percentile with at least ten samples beyond it; the maximum
    * below 100 samples, where that percentile would fall under p90 (at 20
    * samples it is the median). Returns (pct, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 100) (100.0, s.last)
    else {
      val pct = math.floor((1.0 - 10.0 / n) * 1000) / 10
      (pct, pctl(s, pct))
    }
  }

  def pctl(sorted: Seq[Double], p: Double): Double = {
    val rank = math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1)
    sorted(math.min(rank, sorted.size - 1))
  }

  def median(xs: Seq[Double]): Double = pctl(xs.sorted, 50)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val rec = mutable.LinkedHashMap.empty[String, Any]
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // Each set-up builds a session over fresh directories and runs the
    // shared warm-up. The first counts from JVM start and is kept as
    // context; set-up time is the median of the three that follow, each
    // from a stopped session, so all three are of one kind.
    for (i <- 0 until 4) {
      if (i == 1) {
        if (workload == "none") { spark.stop(); return }
        awaitFile(a("ready"))
      }
      val t0 = now()
      freshTmp(a, s"setup-$i")
      spark = session(a, i)
      spark.sparkContext.setLogLevel("ERROR")
      warmUp(spark)
      if (i == 0) rec("setup_cold_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      else setups += secs(t0)
      if (i < 3) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    rec("setup_s") = setups.toSeq
    // traced runs record the machine-speed probe as context; it runs before
    // any program code, in the fresh session, so the workload cannot move it
    if (a("trace") == "1") {
      val (probe, shots) = probeSec(spark, a("probe"))
      rec("probe_s") = probe
      rec("probe_shots") = shots
    }
    val tBody = now()
    val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
    val body: Workload = workload match {
      case "curate" => new Curate(spark, a, tracer)
      case "ingest" => new IngestLoop(spark, a, tracer)
      case "query-mix" => new QueryMix(spark, a, tracer)
      case w => sys.error(s"unknown workload $w")
    }
    val gc0 = gcSeconds()
    body.run(rec)
    rec("gc_s") = gcSeconds() - gc0
    rec("body_s") = secs(tBody)
    rec("peak_mem_gib") = peakMemGib()
    if (tracer.on) {
      rec("spans") = tracer.all.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - tracer.all.head.startNs) / 1e9,
        "dur_s" -> tracer.durS(s), "self_s" -> tracer.selfS(s),
        "jobs" -> tracer.countsFor(s).jobs, "task_s" -> tracer.countsFor(s).taskMs / 1000.0))
    }
    Files.write(Paths.get(a("out")), js(rec).getBytes(UTF_8))
    // everything the run keeps is written; run.py deletes the session's
    // directories, so the JVM ends without Spark's shutdown
    Runtime.getRuntime.halt(0)
  }

  /** The frozen q01-shaped probe of `graft.Bench.probeSec`, over the
    * benchmark's own sf0.1-sized lineitem: two shots to warm its code, then
    * the minimum of six. Returns (minimum, every shot). */
  def probeSec(spark: SparkSession, dir: String): (Double, Seq[Double]) = {
    def once(): Double = {
      System.gc()
      val t0 = now()
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"), avg("l_discount"), count(lit(1)))
        .collect()
      secs(t0)
    }
    val shots = Vector.fill(8)(once())
    (shots.drop(2).min, shots)
  }

  /** The same small warm-up for every set-up: one shuffle aggregate, so the
    * session's executor, scheduler and shuffle service are up. A workload's
    * own first calls pay their class loading and code generation inside the
    * timed region, as in any fresh process; an untimed warm-up round of
    * them would cost as much again as the timed one. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 100000).groupBy(col("id") % 97).agg(count(lit(1)), sum("id")).collect()
}

trait Workload {
  /** Runs the measured loop and fills the run's record. */
  def run(rec: mutable.Map[String, Any]): Unit
}

object QueryMix {
  def key(q: String): String = SparkEntry.queries.keys.find(_.split("_")(0) == q)
    .getOrElse(sys.error(s"no query $q"))
  def fn(q: String): (SparkSession, String) => DataFrame = SparkEntry.queries(key(q))
}

/** Closed loop, one client: passes over the mix until the run's seconds are
  * spent (at least one). Every query is built, planned and executed as
  * three separately timed steps. */
final class QueryMix(spark: SparkSession, a: Main.Args, tr: Tracer) extends Workload {
  import Main._

  def run(rec: mutable.Map[String, Any]): Unit = {
    val dir = s"${a("data")}/tables"
    val outDir = s"${a("work")}/out"
    tr.attach(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val first = mutable.LinkedHashMap.empty[String, Int]
    var attempted = 0; var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val saved = mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]
    val t0 = now()
    while (passes.isEmpty || secs(t0) < a("seconds").toDouble) {
      KeyedWorkDir.dropComputedStaged(spark)
      freshTmp(a, s"pass-${passes.size}")
      val times = mutable.LinkedHashMap.empty[String, Double]
      tr.span(s"pass.${passes.size}") {
        for ((fam, qs) <- Families; q <- qs) {
          val name = QueryMix.key(q)
          attempted += 1
          val q0 = now()
          try {
            val rows = tr.span(s"mix.$fam.$name") {
              val df = tr.span("queries.build") { QueryMix.fn(q)(spark, dir) }
              tr.span("planner.plan") { df.queryExecution.executedPlan }
              tr.span("exec.exec") { (df.collect(), df.schema) }
            }
            times(name) = secs(q0)
            val fp = fingerprint(rows._1)
            if (passes.isEmpty) { first(name) = fp; saved += ((name, rows._1, rows._2)) }
            else if (first.get(name).exists(_ != fp)) {
              failed += 1; errors += s"$name: output differs from the first pass"
            }
          } catch { case e: Throwable =>
            failed += 1; errors += s"$name: $e"; times(name) = -1.0
          }
        }
      }
      passes += times.toMap
    }
    tr.detach(spark)
    // outputs are written after the timed region, for run.py's oracle check
    val tSave = now()
    saveOutputs(spark, a, saved.toSeq)
    rec("save_s") = secs(tSave)
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), js(saved.map(_._1)
      .filter(SparkEntry.oracleSql.contains).map(n => n -> SparkEntry.oracleSql(n)).toMap)
      .getBytes(UTF_8))
    rec("attempted") = attempted
    rec("failed") = failed
    rec("errors") = errors.toSeq
    rec("checked") = saved.map(_._1).toSeq
    rec("families") = Families.map { case (f, qs) => f -> qs.map(QueryMix.key) }.toMap
    rec("passes") = passes.toSeq
    rec("work_s") = passes.map(_.values.filter(_ >= 0).sum).toSeq
    val lat = passes.flatMap(_.values.filter(_ >= 0)).toSeq
    rec("latency_p50_s") = median(lat)
    rec("latency_tail_s") = tail(lat)._2
    rec("latency_tail_pct") = tail(lat)._1
    rec("latency_samples") = lat.size
    if (tr.on) rec("layers") = layers()
  }

  /** Per-layer sums over the mix and per family, from the spans. */
  private def layers(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val spans = tr.all
    val cores = a.int("cores")
    // figures of the last pass: the only one when a pass outlasts --seconds
    val lastPass = spans.filter(_.name.startsWith("pass.")).last
    val queries = tr.descendants(lastPass).filter(_.name.startsWith("mix."))
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (q <- queries; step <- spans.filter(_.parent == q.id)) {
      val fam = q.name.split("\\.")(1)
      val c = tr.countsUnder(step)
      step.name match {
        case "queries.build" =>
          Seq("", s".$fam").foreach { sfx =>
            add(s"queries.build_s$sfx", tr.durS(step)); add(s"queries.build_jobs$sfx", c.jobs)
          }
        case "planner.plan" =>
          Seq("", s".$fam").foreach(sfx => add(s"planner.plan_s$sfx", tr.durS(step)))
        case "exec.exec" =>
          Seq("", s".$fam").foreach(sfx => add(s"exec.exec_s$sfx", tr.durS(step)))
          add("exec.jobs", c.jobs)
          add("exec.task_s", c.taskMs / 1000.0)
          add("exec.shuffle_write_bytes", c.shuffleWriteBytes)
          add("exec.spill_bytes", c.spillBytes)
          out("exec.peak_task_mem_bytes") =
            math.max(out.getOrElse("exec.peak_task_mem_bytes", 0.0), c.peakTaskMemBytes)
        case _ =>
      }
    }
    out("trace.self_s") = tr.selfS(lastPass) + queries.map(tr.selfS).sum
    out("exec.core_busy_frac") =
      out.getOrElse("exec.task_s", 0.0) / (out.getOrElse("exec.exec_s", 1.0) * cores)
    out.toMap
  }
}

/** The composed curation pipeline: q157 in batch, then q167 as an
  * AvailableNow stream, over the same corpus, repeated until the run's
  * seconds are spent (at least once). */
final class Curate(spark: SparkSession, a: Main.Args, tr: Tracer) extends Workload {
  import Main._

  def run(rec: mutable.Map[String, Any]): Unit = {
    val dir = s"${a("data")}/corpus"
    val outDir = s"${a("work")}/out"
    val nDocs = Tables(spark, dir, "documents").count()
    val nStream = Tables(spark, dir, "documents").filter(col("source") =!= "src0").count()
    val batch = mutable.ArrayBuffer.empty[Double]
    val stream = mutable.ArrayBuffer.empty[Double]
    val docLatency = mutable.ArrayBuffer.empty[Double]
    val fps = mutable.LinkedHashMap.empty[String, Int]
    var attempted = 0; var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val saved = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    // per-document stream latency needs each micro-batch's commit time,
    // which only the progress events carry: listened to on every run
    val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    tr.attach(spark)
    def shot(name: String, walls: mutable.ArrayBuffer[Double]): Unit = {
      attempted += 1
      val t0 = now()
      try {
        val (rows, schema) = tr.span(s"curate.$name") {
          val df = tr.span("queries.build") { SparkEntry.queries(name)(spark, dir) }
          tr.span("planner.plan") { df.queryExecution.executedPlan }
          tr.span("exec.exec") { (df.collect(), df.schema) }
        }
        walls += secs(t0)
        val fp = fingerprint(rows)
        if (!fps.contains(name)) { fps(name) = fp; saved(name) = (rows, schema) }
        else if (fps(name) != fp) { failed += 1; errors += s"$name: output differs from the first shot" }
      } catch { case e: Throwable => failed += 1; errors += s"$name: $e" }
    }
    val t0 = now()
    var iter = 0
    while (iter == 0 || secs(t0) < a("seconds").toDouble) {
      KeyedWorkDir.dropComputedStaged(spark)
      freshTmp(a, s"iter-$iter")
      tr.span(s"iter.$iter") {
        shot("q157_curation_e2e", batch)
        progress.synchronized(progress.clear())
        val s0 = System.currentTimeMillis()
        shot("q167_streaming_curation", stream)
        docLatency ++= streamDocLatency(progress, s0)
      }
      iter += 1
    }
    tr.detach(spark)
    val tSave = now()
    saveOutputs(spark, a, saved.toSeq.map { case (n, (rows, schema)) => (n, rows, schema) })
    rec("save_s") = secs(tSave)
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      js(saved.keys.map(n => n -> SparkEntry.oracleSql(n)).toMap).getBytes(UTF_8))
    val lat = if (docLatency.isEmpty) Seq(-1.0) else docLatency.toSeq
    val (tailPct, tailV) = tail(lat)
    rec("attempted") = attempted
    rec("failed") = failed
    rec("errors") = errors.toSeq
    rec("checked") = saved.keys.toSeq
    rec("docs") = nDocs
    rec("stream_docs") = nStream
    rec("batch_s") = batch.toSeq
    rec("stream_s") = stream.toSeq
    rec("work_s") = batch.zip(stream).map { case (x, y) => x + y }.toSeq
    rec("latency_p50_s") = median(lat)
    rec("latency_tail_s") = tailV
    rec("latency_tail_pct") = tailPct
    rec("latency_samples") = docLatency.size
    if (tr.on) {
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layers ++= IngestLoop.streamLayers(tr)
      val q157 = tr.all.filter(_.name == "curate.q157_curation_e2e")
      layers("trace.self_s") = tr.all.filter(_.name.startsWith("iter.")).map(tr.selfS).sum
      val exec = q157.map(tr.countsUnder)
      val wall = q157.map(tr.durS).sum
      layers("exec.exec_s") = wall
      layers("exec.jobs") = exec.map(_.jobs).sum.toDouble
      layers("exec.task_s") = exec.map(_.taskMs).sum / 1000.0
      layers("exec.core_busy_frac") = layers("exec.task_s") / (wall * a.int("cores"))
      layers("exec.shuffle_write_bytes") = exec.map(_.shuffleWriteBytes).sum.toDouble
      layers("exec.spill_bytes") = exec.map(_.spillBytes).sum.toDouble
      layers("exec.peak_task_mem_bytes") = exec.map(_.peakTaskMemBytes).foldLeft(0L)(math.max).toDouble
      val (stages, manifest) = stagesOfQ157(dir)
      layers ++= stages
      rec("attempted") = attempted + 1
      if (saved.get("q157_curation_e2e").exists(s => fingerprint(s._1) != fingerprint(manifest))) {
        rec("failed") = failed + 1
        rec("errors") = errors.toSeq :+ "q157 stage replay: manifest differs from q157"
      }
      rec("layers") = layers.toMap
    }
  }

  /** Seconds from the q167 call to the commit of the micro-batch holding
    * each streamed document (one sample per document). */
  private def streamDocLatency(progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent],
                               callMs: Long): Seq[Double] = {
    waitStable(progress)
    progress.synchronized(progress.toList).flatMap { e =>
      val pr = e.progress
      val end = java.time.Instant.parse(pr.timestamp).toEpochMilli +
        pr.durationMs.getOrDefault("triggerExecution", 0L).longValue
      Seq.fill(pr.numInputRows.toInt)((end - callMs) / 1000.0)
    }
  }

  /** q157's stages re-run one at a time through the same public calls, each
    * materialized so its time and drop fraction are its own. */
  private def stagesOfQ157(dir: String): (Map[String, Double], Array[Row]) = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def timed[A](k: String)(body: => A): A = {
      val t0 = now()
      val r = tr.span(k.stripSuffix("_s")) { body }
      out(k) = secs(t0); r
    }
    val d = Tables(spark, dir, "documents")
    val toks = TextOps.tokens(col("text"))
    val gated = d.select(col("doc_id"), col("source"), col("text"),
        size(toks).as("n_words"), size(array_distinct(toks)).as("n_distinct"))
      .filter(col("n_words") >= 20 && col("n_distinct") * 10 >= col("n_words") * 3)
      .select("doc_id", "source", "text").localCheckpoint()
    val nGated = gated.count().toDouble
    val keep = timed("dedup.exact_s") {
      ExactDedup.keepers(ExactDedup.withTextHash(gated, "text"),
        "text_hash", "doc_id", carryCols = Seq("source", "text"))
        .select("doc_id", "source", "text").localCheckpoint()
    }
    out("dedup.exact.drop_frac") = 1 - keep.count() / nGated
    val table = s"perfbench_keepers_${System.nanoTime()}"
    val s1 = timed("sinks.staged_write_s") {
      Sinks.stagedTable(spark, table, key = "doc_id", numBuckets = 8, sortCols = Seq("doc_id"))(keep)
    }
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    out("sinks.staged_bytes") = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(loc).getLength.toDouble
    val n1 = s1.count().toDouble
    val pairs = timed("dedup.lsh_s") {
      MinHashLSH.nearDupPairsHashed(s1.select(col("doc_id"),
        graft.expressions.NgramHashes.word_ngram_hashes(col("text"), 3).as("sh")),
        "doc_id", "sh", 64, 16, 0.8).localCheckpoint()
    }
    out("dedup.lsh.pairs") = pairs.count().toDouble
    val s2 = timed("dedup.clusters_s") {
      val dupes = Clusters.assign(pairs, "doc_a", "doc_b")
        .filter(!col("is_representative")).select(col("id").as("doc_id"))
      s1.join(graft.ops.Checkpoints.guardedBroadcast(dupes), Seq("doc_id"), "left_anti")
        .localCheckpoint()
    }
    val n2 = s2.count().toDouble
    out("dedup.neardup.drop_frac") = 1 - n2 / n1
    val corpus = Tables.vectors(spark, dir).select(col("vec_id"), col("embedding").as("vec"))
      .join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id")).localCheckpoint()
    val cells = timed("similarity.ivf_assign_s") {
      val k = math.max(16L, math.ceil(math.sqrt(corpus.count().toDouble)).toLong)
      val r = corpus.select(col("vec_id")).orderBy(col("vec_id")).limit(k.toInt)
        .agg(max(col("vec_id"))).head()
      val tauK = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      val centroids = corpus.filter(col("vec_id") <= tauK)
        .select(col("vec_id").as("cen_id"), col("vec").as("cen_vec"))
      IvfFlat.assign(corpus, "vec_id", "vec", centroids, "cen_id", "cen_vec").localCheckpoint()
    }
    val s3 = timed("similarity.semdedup_s") {
      val drops = SemanticDedup.dropReport(cells, corpus, "vec_id", "vec", tau = 0.3)
        .select(col("vec_id").as("doc_id"))
      s2.join(graft.ops.Checkpoints.guardedBroadcast(drops), Seq("doc_id"), "left_anti")
        .localCheckpoint()
    }
    out("similarity.semdedup.drop_frac") = 1 - s3.count() / n2
    val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
    val train = s3.filter(bucket < 80)
    val manifest = timed("dedup.decontam_s") {
      val contaminated = BloomDecontaminate.contaminationReport(
        train, s3.filter(bucket >= 90), "doc_id", "text", n = 8, expectedEvalNgrams = 100000L)
        .select("doc_id")
      train.join(graft.ops.Checkpoints.guardedBroadcast(contaminated), Seq("doc_id"), "left_anti")
        .select("doc_id", "source").orderBy("doc_id").collect()
    }
    val nTrain = train.count().toDouble
    out("dedup.decontam.drop_frac") = if (nTrain > 0) 1 - manifest.length / nTrain else 0.0
    spark.sql(s"DROP TABLE IF EXISTS $table")
    (out.toMap, manifest)
  }

  private def waitStable(buf: mutable.ArrayBuffer[_]): Unit = {
    var last = -1; var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val n = buf.synchronized(buf.size)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

object IngestLoop {
  val PostSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("source", StringType),
    StructField("title", StringType), StructField("selftext", StringType),
    StructField("created_utc", LongType), StructField("url", StringType),
    StructField("removed_by_category", StringType)))

  val MaxFilesPerTrigger = 10

  /** Micro-batch layer figures from the progress events the tracer saw. */
  def streamLayers(t: Tracer): Map[String, Double] = {
    val ps = t.progress.synchronized(t.progress.toList).map(_.progress)
      .filter(_.numInputRows > 0)
    def med(k: String): Double =
      if (ps.isEmpty) 0.0 else Main.median(ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble))
    def medOf(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (ps.isEmpty) 0.0 else Main.median(ps.map(f))
    Map(
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.plan_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.commit_ms" -> medOf(p =>
        (p.durationMs.getOrDefault("walCommit", 0L) + p.durationMs.getOrDefault("commitOffsets", 0L)).toDouble),
      "streaming.list_ms" -> med("latestOffset"),
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.rows_per_trigger" -> medOf(_.numInputRows.toDouble),
      "streaming.state_rows" -> medOf(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
      "streaming.state_mem_bytes" -> medOf(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble),
      "streaming.late_rows_dropped" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
  }
}

/** The ingest spine as a stream: `Ingest.ingestStream` into
  * `Sinks.idempotentAppend` through `foreachBatch`, in two phases.
  * (a) Open loop: one generator thread publishes pre-written post files on a
  * fixed schedule (copied, then renamed into the watched directory), whatever
  * the engine's speed. (b) Drain: a pre-staged backlog as fast as the stream
  * goes. */
final class IngestLoop(spark: SparkSession, a: Main.Args, tr: Tracer) extends Workload {
  import IngestLoop._
  import Main._

  private lazy val universe: Seq[String] =
    Files.readAllLines(Paths.get(s"${a("data")}/universe.txt")).asScala.toSeq.filter(_.nonEmpty)
  private val clock = lit("2024-03-02 00:00:00").cast("timestamp")
  val appendMs = mutable.ArrayBuffer.empty[Double]

  /** The open loop takes every published file in each micro-batch; the
    * drain caps a micro-batch at [[MaxFilesPerTrigger]] files, so its time
    * is a run of equal micro-batches. */
  private def query(inDir: String, sink: String, ckpt: String, availableNow: Boolean) = {
    val reader = spark.readStream.schema(PostSchema)
    val posts = (if (availableNow) reader.option("maxFilesPerTrigger", MaxFilesPerTrigger)
                 else reader).json(inDir)
    val w = Ingest.ingestStream(posts, universe, clock).toDF()
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val t0 = now()
        tr.span("sinks.append") {
          Sinks.idempotentAppend(b.withColumn("batch_id", lit(id)), sink, Seq("batch_id"))
        }
        appendMs.synchronized { appendMs += secs(t0) * 1000 }
        ()
      }
      .option("checkpointLocation", ckpt)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Runs the stream over everything in `inDir` until it is drained. */
  def drain(inDir: String, work: String): Double = {
    val t0 = now()
    query(inDir, s"$work/sink", s"$work/ckpt", availableNow = true).awaitTermination()
    secs(t0)
  }

  /** (file name -> batch id) from the file source's log in the checkpoint. */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty).filter(f => !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .filter(_.startsWith("{")).map { l =>
        val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
        path.split("/").last -> batch
      }.toMap
  }

  /** Publishes a file whole: written under a hidden name, then renamed. */
  private def publish(f: File, dir: File, name: String): Unit = {
    val hidden = Paths.get(dir.getPath, "." + name)
    Files.copy(f.toPath, hidden)
    Files.move(hidden, Paths.get(dir.getPath, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def commitMs(ckpt: String, batch: Long): Long =
    new File(s"$ckpt/commits/$batch").lastModified()

  /** Checks a sink against batch `Ingest.ingest` over the same posts: one
    * row per surviving text hash, nothing lost, nothing written twice.
    * Returns the number of text hashes in error. */
  private def check(postsDir: String, sink: String, errors: mutable.Buffer[String], tag: String): Long = {
    val posts = spark.read.schema(PostSchema).json(postsDir)
    val uni = spark.createDataFrame(universe.map(Tuple1(_))).toDF("ticker_symbol")
    val hist = spark.createDataFrame(Seq.empty[Tuple1[String]]).toDF("text_hash")
    val want = Ingest.ingest(posts, uni, hist, clock).select("text_hash").collect().map(_.getString(0))
    val got = spark.read.parquet(sink).select("text_hash").collect().map(_.getString(0))
    val ws = want.toSet; val gs = got.toSet
    val bad = (ws -- gs).size + (gs -- ws).size + (got.length - gs.size)
    if (bad > 0) errors += s"$tag: ${(ws -- gs).size} lost, ${(gs -- ws).size} unexpected, " +
      s"${got.length - gs.size} written twice"
    bad.toLong
  }

  def run(rec: mutable.Map[String, Any]): Unit = {
    val data = a("data")
    val work = a("work")
    val intervalMs = a("interval-ms").toLong
    val pending = new File(s"$data/pending").listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
    val incoming = new File(s"$work/ingest/in"); incoming.mkdirs()
    val ckptA = s"$work/ingest/ckpt-a"
    val sinkA = s"$work/ingest/sink-a"
    val errors = mutable.ArrayBuffer.empty[String]
    tr.attach(spark)
    // (a) open loop
    val due = mutable.LinkedHashMap.empty[String, Long]
    var lateMax = 0L
    var genEndMs = 0L
    val q = tr.span("streaming.open_loop") { query(incoming.getPath, sinkA, ckptA, availableNow = false) }
    // one untimed warm-up file first, so the schedule starts against a
    // running stream rather than timing the query's first planning
    publish(new File(s"$data/warmup/00000.json"), incoming, "warmup.json")
    q.processAllAvailable()
    val startMs = System.currentTimeMillis() + 500
    val gen = new Thread(() => {
      pending.zipWithIndex.foreach { case (f, i) =>
        val d = startMs + i * intervalMs
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(f, incoming, f.getName)
        lateMax = math.max(lateMax, System.currentTimeMillis() - d)
        due.synchronized { due(f.getName) = d }
      }
      genEndMs = System.currentTimeMillis()
    }, "perfbench-gen")
    gen.start(); gen.join()
    q.processAllAvailable()
    q.stop()
    val batches = fileBatches(ckptA)
    val lat = due.toSeq.flatMap { case (f, d) => batches.get(f).map(b => (commitMs(ckptA, b) - d) / 1000.0) }
    val backlogEnd = due.keys.count(f => batches.get(f).forall(b => commitMs(ckptA, b) > genEndMs))
    val lost = due.size - lat.size
    if (lost > 0) errors += s"open loop: $lost files never committed"
    // (b) drain
    val backlogDir = s"$data/backlog"
    val nBacklog = new File(backlogDir).listFiles().filter(_.getName.endsWith(".json"))
      .map(f => Files.readAllLines(f.toPath).size.toLong).sum
    val drainS = tr.span("streaming.drain") { drain(backlogDir, s"$work/ingest/drain") }
    tr.detach(spark)
    val checks = Seq(check(incoming.getPath, sinkA, errors, "open loop"),
      check(backlogDir, s"$work/ingest/drain/sink", errors, "drain"))
    val (tailPct, tailV) = tail(lat)
    rec("attempted") = due.size + 1
    rec("failed") = lost + checks.count(_ > 0)
    rec("errors") = errors.toSeq
    rec("checked") = Seq.empty[String]
    rec("latency_samples") = lat.size
    rec("latency_p50_s") = median(lat)
    rec("latency_tail_s") = tailV
    rec("latency_tail_pct") = tailPct
    rec("work_s") = Seq(drainS)
    rec("drain_docs") = nBacklog
    rec("drain_docs_per_s") = nBacklog / drainS
    if (tr.on) {
      val posts = spark.read.schema(PostSchema).json(incoming.getPath).count().toDouble
      val docs = spark.read.parquet(sinkA).count().toDouble
      rec("layers") = streamLayers(tr) ++ Map(
        "sinks.append_ms" -> median(appendMs.toSeq),
        "pipeline.survive_frac" -> docs / posts,
        "gen.late_ms_max" -> lateMax.toDouble,
        "gen.backlog_files_end" -> backlogEnd.toDouble,
        "trace.self_s" -> tr.all.filter(_.name.startsWith("streaming.")).map(tr.selfS).sum)
    }
  }
}

package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, SparkEntry}
import graft.operators.{ResumableValidate, SpanInvariant, Validate}
import graft.rules.{Rule, RuleCompiler, RuleLoader}
import graft.sources.{CommitLog, DocsGen}

/** Benchmark JVM: one workload, one process, `local[nproc]`.
  *
  * {{{
  * PerfBench --prepare --seed <n> --data <corpus cache dir>
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --run <fresh dir> --data <corpus cache dir> --rules <dir> --result <json>
  *   [--sf <tables dir>]
  * }}}
  *
  * `--prepare` makes the docs corpus of a seed unless a complete copy is
  * there. It runs in its own JVM before the benchmark JVM, so the measured
  * JVM does the same work whether the corpus was cached or not.
  *
  * Untraced (`--trace 0`): set-up (session start, rule load and compile,
  * untimed warm-up runs of the workload's operation), then timed passes
  * until `--seconds` have elapsed and at least [[MinPasses]] are done.
  * Every pass is checked here against the first pass and against
  * properties that need no reference; `perfbench/run.py` checks the first
  * pass against the DuckDB references and turns the raw record written to
  * `--result` into the metrics.
  *
  * Traced (`--trace 1`): the same set-up, four checked passes (the third
  * with a [[Ledger]] listener attached, for the tracing overhead and the
  * Spark counters), then rounds of the layer ledger (README.md) until
  * `--seconds`.
  */
object PerfBench {

  final case class Opts(prepare: Boolean = false, workload: String = "",
      seed: Long = 0L, seconds: Double = 10.0, trace: Boolean = false,
      run: String = "", data: String = "", rules: String = "",
      result: String = "", sf: String = "")

  private def parse(a: List[String], o: Opts): Opts = a match {
    case Nil => o
    case "--prepare" :: r => parse(r, o.copy(prepare = true))
    case "--workload" :: v :: r => parse(r, o.copy(workload = v))
    case "--seed" :: v :: r => parse(r, o.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, o.copy(trace = v == "1"))
    case "--run" :: v :: r => parse(r, o.copy(run = v))
    case "--data" :: v :: r => parse(r, o.copy(data = v))
    case "--rules" :: v :: r => parse(r, o.copy(rules = v))
    case "--result" :: v :: r => parse(r, o.copy(result = v))
    case "--sf" :: v :: r => parse(r, o.copy(sf = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  // ---------- small helpers ----------

  private[perfbench] def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private[perfbench] def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs(t0))
  }

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  // ---------- inputs ----------

  /** A generated docs corpus: DocsGen knobs plus the file count. */
  final case class Corpus(knobs: DocsGen.Knobs, files: Int) {
    def fingerprint: String = s"$knobs files=$files"
  }

  /** verdict_clean's corpus, with the bench's low corruption rates. */
  def corpus(seed: Long): Corpus = Corpus(DocsGen.Knobs(nDocs = 500000L,
    nParts = 64, seed = seed, badKindPerMille = 5, badOrderPerMille = 5,
    negOffsetPerMille = 2), files = 12)

  /** One directory per seed; `--prepare` keeps only the latest. */
  def corpusDir(data: String, seed: Long): File =
    new File(new File(data, "verdict_clean"), s"seed=$seed")

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  private def footerRows(conf: Configuration, files: Seq[File]): Long =
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** The marker fingerprint, the file count and the footer row count all
    * match, so a partial or stale corpus is rebuilt rather than timed.
    */
  def corpusComplete(dir: File, c: Corpus): Boolean = {
    val marker = new File(dir, "_BENCH_FINGERPRINT")
    marker.isFile &&
      new String(Files.readAllBytes(marker.toPath), StandardCharsets.UTF_8) == c.fingerprint && {
        val fs = parquetFiles(dir)
        fs.size == c.files && footerRows(new Configuration(), fs) == c.knobs.nDocs
      }
  }

  /** `--prepare`: generate the seed's corpus unless it is complete. */
  def prepare(o: Opts): Unit = {
    val c = corpus(o.seed)
    val dir = corpusDir(o.data, o.seed)
    if (!corpusComplete(dir, c)) {
      Option(dir.getParentFile.listFiles()).toSeq.flatten.foreach(deleteTree)
      val spark = Bench.session(Runtime.getRuntime.availableProcessors())
      try DocsGen.docs(spark, c.knobs).repartition(c.files).write.parquet(dir.getPath)
      finally spark.stop()
      Files.write(new File(dir, "_BENCH_FINGERPRINT").toPath,
        c.fingerprint.getBytes(StandardCharsets.UTF_8))
      require(corpusComplete(dir, c), s"corpus $dir incomplete after generation")
    }
  }

  // ---------- workloads ----------

  /** One timed and checked operation: wall seconds, whether every check
    * held, why not, and the output summary run.py checks against DuckDB.
    */
  final case class Pass(wall: Double, ok: Boolean, why: String,
      extra: ListMap[String, Any] = ListMap.empty) {
    def record: ListMap[String, Any] =
      ListMap("wall_s" -> wall, "ok" -> ok, "why" -> why) ++ extra
  }

  private def whyOf(checks: (Boolean, String)*): String =
    checks.collect { case (true, m) => m }.mkString("; ")

  trait Workload {
    /** Rule load; returns milliseconds (0 when the workload loads none). */
    def load(): Double
    /** Rule compile against the input schema; returns milliseconds. */
    def compile(spark: SparkSession): Double
    /** Untimed runs of the operation on the full input, so timed passes
      * start at a settled JIT; returns the wall of each.
      */
    def warm(spark: SparkSession): Seq[Double]
    /** One timed and checked pass; `i == 0` is the first, the one the
      * DuckDB references check and later passes are compared with.
      */
    def pass(spark: SparkSession, i: Int): Pass
    /** One round of the layer ledger (traced mode), with the check of the
      * round's own outputs.
      */
    def ledger(spark: SparkSession, round: Int): (Seq[(String, Double)], Pass)
    /** Input facts for the result record. */
    def facts: ListMap[String, Any]
  }

  /** The headline job in `Bench.validateJob`'s shape over the seed's
    * corpus; the untraced passes write nothing.
    */
  final class VerdictClean(o: Opts) extends Workload {
    val corpus: Corpus = PerfBench.corpus(o.seed)
    val path: String = corpusDir(o.data, o.seed).getPath
    require(corpusComplete(new File(path), corpus),
      s"corpus $path missing or incomplete: run --prepare first")
    private val ruleFile = new File(o.rules, "headline.yaml").getPath
    private var loaded: RuleLoader.Loaded = _
    private var first: Seq[(Int, Long, Long, Long)] = Nil

    def docs(spark: SparkSession): DataFrame = spark.read.parquet(path)
    def rule: Rule = loaded.root
    def defs: Map[String, Rule] = loaded.defs

    def load(): Double = {
      val (l, s) = timed(RuleLoader.loadFiles(Seq(ruleFile)))
      loaded = l
      require(Rule.canonical(rule) == Rule.canonical(Bench.rule),
        "headline.yaml must compile to Bench.rule")
      s * 1e3
    }

    def compile(spark: SparkSession): Double = {
      val schema = spark.read.parquet(path).schema
      timed(RuleCompiler.compile(rule,
        struct(schema.fieldNames.toSeq.map(col): _*), schema, defs))._2 * 1e3
    }

    /** Per-part (docs, failed, violations) of the verdict job. */
    def verdictJob(df: DataFrame): Seq[(Int, Long, Long, Long)] =
      ResumableValidate.compositeViolations(df, rule, defs)
        .groupBy(col("part"))
        .agg(count(lit(1)).as("docs"),
          sum(when(!col("pass"), 1L).otherwise(0L)).as("failed"),
          sum(size(col("violations")).cast("long")).as("nviol"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)

    def warm(spark: SparkSession): Seq[Double] =
      (1 to 4).map(_ => timed(verdictJob(docs(spark)))._2)

    def pass(spark: SparkSession, i: Int): Pass = {
      val (rows, wall) = timed(verdictJob(docs(spark)))
      if (i == 0) first = rows
      val total = rows.map(_._2).sum
      val why = whyOf(
        (total != corpus.knobs.nDocs) -> s"docs total $total != parquet rows ${corpus.knobs.nDocs}",
        (rows != first) -> "per-part verdicts differ from the first pass")
      Pass(wall, why.isEmpty, why,
        if (i == 0) ListMap("parts" -> rows.map(r => Seq(r._1, r._2, r._3, r._4)))
        else ListMap.empty)
    }

    /** Bytes of the corpus files. Spark's input metric counts a small
      * fraction of them for the nested-column scan, so the ledger uses this.
      */
    def inputMb: Double = parquetFiles(new File(path)).map(_.length).sum / 1e6

    private def perPart(df: DataFrame, aggs: org.apache.spark.sql.Column*): Unit = {
      df.groupBy(col("part")).agg(count(lit(1)), aggs: _*).collect(): Unit
    }

    /** `ResumableValidate.run` over the corpus into `out`, as `graft.Main`
      * calls it.
      */
    private def run(spark: SparkSession, out: String): ResumableValidate.RunReport = {
      val d = docs(spark)
      ResumableValidate.run(spark, d, rule, out,
        manifest = d.inputFiles.sorted.toSeq, defs = defs)
    }

    /** Layers of the validation path, each timed alone on the full corpus;
      * the subtractions follow README.md. Then the library `run` and its
      * no-op resume, whose outputs are checked.
      */
    def ledger(spark: SparkSession, round: Int): (Seq[(String, Double)], Pass) = {
      // the scan-and-compute layers run three times, interleaved, and each
      // reports its median, so JIT warm-up during the round biases none.
      // size(spans) extracts no field, so the scan decodes every span leaf
      val reps = (1 to 3).map { _ =>
        Seq(
          timed(perPart(docs(spark), sum(size(col("spans")))))._2,
          timed(perPart(docs(spark),
            sum(when(!SpanInvariant.predCol(col("spans")), 1L).otherwise(0L))))._2,
          timed(perPart(Validate.withViolations(docs(spark), rule, defs),
            sum(size(col("violations")).cast("long"))))._2,
          timed(perPart(docs(spark),
            sum(size(SpanInvariant.violationsCol(col("spans"))).cast("long"))))._2,
          timed(verdictJob(docs(spark)))._2,
          timed(Validate.flatViolations(
              ResumableValidate.compositeViolations(docs(spark), rule, defs))
            .write.format("noop").mode("overwrite").save())._2)
      }
      val Seq(scan, pred, eval, spanViol, fullJob, flat) =
        reps.transpose.map(median)
      val out = new File(o.run, s"ledger_out_$round")
      val (rep, runC) = Ledger.traced(spark)(run(spark, out.getPath))
      val bytes0 = treeBytes(out)
      val (rep2, resume) = timed(run(spark, out.getPath))
      val bytes1 = treeBytes(out)
      val conf = spark.sparkContext.hadoopConfiguration
      val commitMs = median((1 to 5).map(_ =>
        timed(CommitLog.completed(out.getPath, conf))._2 * 1e3))
      val check = checkRun(spark, out.getPath, runC.wallS, rep, rep2, bytes0, bytes1)
      deleteTree(out)
      (Seq(
        "sources.scan_s" -> scan,
        "sources.input_mb" -> inputMb,
        "plans.span_pred_s" -> (pred - scan),
        "rules.eval_s" -> (eval - scan),
        "operators.span_violations_s" -> (spanViol - pred),
        "operators.verdict_agg_s" -> (fullJob - (scan + (pred - scan) +
          (eval - scan) + (spanViol - pred))),
        "operators.flat_violations_s" -> flat,
        "operators.violation_write_s" -> (runC.wallS - flat),
        "operators.resumable_serial_s" -> (runC.wallS - runC.jobWallS),
        "operators.resume_s" -> resume,
        "sources.output_mb" -> bytes0 / 1e6,
        "sources.commit_read_ms" -> commitMs), check)
    }

    /** Committed metrics per part: (docs, failed_docs, violations). */
    private def commitMetrics(out: String): Seq[(Int, Long, Long, Long)] =
      Option(new File(out, "_commits").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".json")).map { f =>
          val n = json.readTree(f)
          (n.get("part").asInt, n.get("docs").asLong, n.get("failed_docs").asLong,
            n.get("violations").asLong)
        }.sortBy(_._1)

    /** Every committed part dir holds one file, sorted on the write's key. */
    private def partFilesSorted(spark: SparkSession, out: String): Option[String] = {
      val dirs = Option(new File(out).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("violations_batch_"))
        .flatMap(b => Option(b.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part=")))
      val files = dirs.map(d => d -> parquetFiles(d))
      files.collectFirst { case (d, fs) if fs.size != 1 => s"${d.getName} holds ${fs.size} files" }
        .orElse {
          val unsorted = spark.read.parquet(files.map(_._2.head.getPath): _*)
            .select(input_file_name().as("f"), col("doc_id"), col("path"),
              col("rule"), col("message"))
            .queryExecution.toRdd.mapPartitions { it =>
              var prevFile: String = null
              var prev: Array[org.apache.spark.unsafe.types.UTF8String] = null
              var bad = 0L
              it.foreach { r =>
                val f = r.getUTF8String(0).toString
                val cur = (1 to 4).map(i =>
                  if (r.isNullAt(i)) null else r.getUTF8String(i).clone()).toArray
                if (f == prevFile && prev != null) {
                  val c = cur.zip(prev).map { case (a, b) =>
                    if (a == null || b == null) 0 else a.compareTo(b)
                  }.find(_ != 0).getOrElse(0)
                  if (c < 0) bad += 1
                }
                prevFile = f
                prev = cur
              }
              Iterator(bad)
            }.collect().sum
          if (unsorted > 0) Some(s"$unsorted out-of-order rows") else None
        }
    }

    /** Checks of a finished `run` and its resume that need no reference;
      * the read-back and commit summaries go to run.py for the DuckDB check.
      */
    private def checkRun(spark: SparkSession, out: String, wall: Double,
        rep: ResumableValidate.RunReport, rep2: ResumableValidate.RunReport,
        bytes0: Long, bytes1: Long): Pass = {
      val v = ResumableValidate.violations(spark, out)
      val byRule = v.groupBy(col("part"), col("rule")).count().collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted
      val failedByPart = v.groupBy(col("part")).agg(countDistinct(col("doc_id")))
        .collect().toSeq.map(r => (r.getInt(0), r.getLong(1))).sorted
      val rows = byRule.map(_._3).sum
      val commits = commitMetrics(out)
      val sortErr = partFilesSorted(spark, out)
      val nParts = corpus.knobs.nParts
      val why = whyOf(
        (rep.partsDone.size != nParts) -> s"run committed ${rep.partsDone.size} of $nParts parts",
        rep2.partsDone.nonEmpty -> s"resume re-ran parts ${rep2.partsDone.mkString(",")}",
        (bytes1 != bytes0) -> s"resume changed the output bytes ($bytes0 -> $bytes1)",
        (commits.map(_._2).sum != corpus.knobs.nDocs) ->
          s"committed docs ${commits.map(_._2).sum} != parquet rows ${corpus.knobs.nDocs}",
        (commits.map(_._4).sum != rows) -> s"committed violations != $rows read back",
        sortErr.isDefined -> sortErr.getOrElse(""))
      Pass(wall, why.isEmpty, why, ListMap(
        "by_rule" -> byRule.map(t => Seq(t._1, t._2, t._3)),
        "failed_by_part" -> failedByPart.map(t => Seq(t._1, t._2)),
        "commits" -> commits.map(t => Seq(t._1, t._2, t._3, t._4))))
    }

    def facts: ListMap[String, Any] = ListMap(
      "corpus" -> corpus.fingerprint, "docs" -> corpus.knobs.nDocs,
      "files" -> corpus.files, "parts" -> corpus.knobs.nParts,
      "input_mb" -> inputMb, "corpus_dir" -> path)
  }

  /** The roadmap's operator queries over the generated `documents` and
    * `lineitem` tables (`--sf`), each collected so every column is
    * computed and the checked rows are the timed execution's own.
    */
  final class OperatorQueries(o: Opts) extends Workload {
    val names: Seq[String] = Seq("d_dedup_minhash", "d_ngram_jaccard",
      "v_span_patterns")
    private val queries = SparkEntry.queries
    private var first: Map[String, Seq[String]] = Map.empty

    def load(): Double = 0.0
    def compile(spark: SparkSession): Double = 0.0
    /** Four passes: the JIT keeps gaining for several passes (after two,
      * the timed passes still fell by 15-25% within a run).
      */
    def warm(spark: SparkSession): Seq[Double] =
      (1 to 4).map(_ => timed(names.foreach(n => queries(n)(spark, o.sf).collect(): Unit))._2)

    private def canon(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted

    /** The oracle SQL of each query, with the generated-snapshot paths of
      * this run substituted as `SparkEntry.oracleSqlResolved` does.
      */
    def oracleSql: ListMap[String, String] = ListMap(names.map { n =>
      n -> SparkEntry.oracleSql(n)
        .replace("__GEN_V1_PATH__", SparkEntry.genV1Path(o.sf))
        .replace("__GEN_V2_PATH__", SparkEntry.genV2Path(o.sf))
    }: _*)

    /** Each query timed alone by `time` (`ledger` attaches a listener to
      * each), its rows checked against the first pass's. Returns the
      * pass and the query walls.
      */
    private def runAll(spark: SparkSession, i: Int,
        time: (=> (DataFrame, Array[Row])) => ((DataFrame, Array[Row]), Double))
        : (Pass, Seq[Double]) = {
      val res = names.map { n =>
        // some queries do their work while building the frame (streams,
        // snapshot writes, iterative clustering), so both are timed
        val ((df, rows), wall) = time {
          val df = queries(n)(spark, o.sf)
          (df, df.collect())
        }
        if (i == 0) {
          spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(o.run, s"ops_out/$n").getPath)
          first += n -> canon(rows)
        }
        (n, wall, canon(rows) == first(n))
      }
      val bad = res.collect { case (n, _, false) => n }
      (Pass(res.map(_._2).sum, bad.isEmpty,
        if (bad.isEmpty) "" else s"rows differ from the first pass: ${bad.mkString(",")}",
        ListMap("query_s" -> ListMap(res.map(r => r._1 -> r._2): _*),
          "query_ok" -> ListMap(res.map(r => r._1 -> r._3): _*))), res.map(_._2))
    }

    def pass(spark: SparkSession, i: Int): Pass = runAll(spark, i, f => timed(f))._1

    def ledger(spark: SparkSession, round: Int): (Seq[(String, Double)], Pass) = {
      val jobs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val (p, walls) = runAll(spark, round + 1, f => {
        val (a, c) = Ledger.traced(spark)(f)
        jobs += c.jobs
        (a, c.wallS)
      })
      (names.indices.flatMap(k => Seq(s"queries.${names(k)}_s" -> walls(k),
        s"queries.${names(k)}_jobs" -> jobs(k).toDouble)), p)
    }

    def facts: ListMap[String, Any] = ListMap("sf" -> o.sf, "queries" -> names,
      "oracle_sql" -> oracleSql)
  }

  // ---------- main ----------

  /** Timed passes per run at least: the metrics take their median, which
    * one slow pass (a noisy neighbour, a GC) then does not move.
    */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args.toList, Opts())
    if (o.prepare) return prepare(o)
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = o.workload match {
      case "verdict_clean" => new VerdictClean(o)
      case "operator_queries" => new OperatorQueries(o)
      case x => throw new IllegalArgumentException(s"unknown workload $x")
    }

    // set-up: session, rule load + compile, warm-up runs; counted from JVM
    // start (inputs are made before this JVM starts)
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (spark, sessionS) = timed(Bench.session(cores))
    val loadMs = w.load()
    val compileMs = w.compile(spark)
    val warm = w.warm(spark)
    val setup = ListMap(
      "total_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "main_s" -> jvmS, "session_s" -> sessionS, "load_ms" -> loadMs, "compile_ms" -> compileMs,
      "warm_s" -> warm)

    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val body: ListMap[String, Any] =
      if (!o.trace) {
        val passes = Iterator.from(0)
          .takeWhile(i => i < MinPasses || System.nanoTime() < deadline)
          .map(i => w.pass(spark, i).record).toList
        ListMap("passes" -> passes)
      } else {
        // tracing overhead: the listener-attached pass against the mean of
        // the untraced passes around it, after one more pass to settle the
        // JIT; all four are checked
        val p0 = w.pass(spark, 0)
        val p1 = w.pass(spark, 1)
        val (p2, c) = Ledger.traced(spark)(w.pass(spark, 2))
        val p3 = w.pass(spark, 3)
        val rounds = Iterator.from(0)
          .takeWhile(i => i < 1 || System.nanoTime() < deadline)
          .map(i => w.ledger(spark, i)).toList
        val keys = rounds.head._1.map(_._1)
        val layers = keys.map(k => k -> median(rounds.map(_._1.toMap.apply(k))))
        val loads = (1 to 5).map(_ => w.load())
        val compiles = (1 to 5).map(_ => w.compile(spark))
        ListMap("layers" -> ListMap(layers ++ Seq(
            "rules.load_ms" -> median(loads),
            "rules.compile_ms" -> median(compiles),
            "spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
            "spark.shuffle_write_mb" -> c.shuffleWriteMb,
            "spark.spill_mb" -> c.spillMb, "spark.task_run_s" -> c.taskRunS,
            "spark.core_busy" -> c.coreBusy(cores), "jvm.gc_s" -> c.gcS): _*),
          "passes" -> Seq(p0, p1, p2, p3).map(_.record),
          "ledger_checks" -> rounds.map(_._2.record))
      }
    val rec = ListMap("workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "setup" -> setup) ++ body ++ w.facts ++ ListMap("peak_rss_mb" -> peakRssMb())
    json.writeValue(new File(o.result), rec)
    spark.stop()
  }
}

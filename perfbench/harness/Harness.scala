package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.chschema.{ClickHouseType, DdlRenderer, SchemaGen, SchemaUtils}
import graft.queries._

/** The benchmark's in-JVM side. One process per invocation:
  *
  *   battery  --data D --tmp T --local L --plan F --seconds S --trace 0|1
  *            --ddl-list F --warmup W --rounds R --out F
  *   ddl      --list F --warmup W --rounds R --seconds S --trace 0|1 --out F
  *   selftest --out F
  *   list     --out F          (entry names and modules, in allDefs order)
  *
  * It measures and records; the Python side (perfbench/run.py) checks
  * outputs and turns the records into metrics. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("battery") => BatteryRun(opts).run()
      case Some("ddl") => DdlRun(opts).run()
      case Some("selftest") => SelfTest.run(opts("out"))
      case Some("list") => Files.writeString(Paths.get(opts("out")),
        graft.SparkEntry.allDefs.map(d => s"${d.name}\t${moduleOf(d.name)}\n").mkString)
      case other => sys.error(s"unknown harness command: $other")
    }
  }

  // ---- small JSON writer ---------------------------------------------------
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")

  // ---- process measurements -------------------------------------------------
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) =>
          (b + (try Files.size(f) catch { case _: Throwable => 0L }), n + 1) }
      finally w.close()
    }

  def context(spark: SparkSession, setConfs: Seq[String]): String = {
    val rt = Runtime.getRuntime
    jobj(Seq(
      "spark_version" -> js(spark.version),
      "java_version" -> js(System.getProperty("java.version")),
      "jvm" -> js(System.getProperty("java.vm.name")),
      "max_heap_mb" -> (rt.maxMemory() / (1024 * 1024)).toString,
      "available_processors" -> rt.availableProcessors().toString,
      "master" -> js(spark.sparkContext.master),
      "confs" -> jobj(setConfs.map(k => k -> js(spark.conf.getOption(k).getOrElse(""))))))
  }

  // ---- digest ---------------------------------------------------------------
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Spark refuses to hash maps, and a map's entry order is not part of
    * its value: sort a top-level map's entries, serialize deeper ones. */
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case MapType(k, v, _) if !hasMap(k) && !hasMap(v) => array_sort(map_entries(c))
    case d if hasMap(d) => to_json(c)
    case _ => c
  }

  /** One aggregate over every output column: row count plus an
    * order-insensitive digest (wrapping-free sums of the two 32-bit halves
    * of each row's xxhash64). Column pruning cannot skip any column. */
  def digestFrame(df: DataFrame): DataFrame = {
    val n = df.schema.size
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  def digestRow(r: Row): (Long, String) =
    (r.getLong(0), f"${r.getLong(1)}%x:${r.getLong(2)}%x")

  /** Which library module declares each entry. */
  val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "LlmOps" -> LlmOps.defs,
    "Advanced" -> Advanced.defs, "StreamingOps" -> StreamingOps.defs,
    "SchemaQueries" -> SchemaQueries.defs, "SourceOps" -> SourceOps.defs,
    "Battery" -> Battery.defs, "TrainPrep" -> TrainPrep.defs,
    "Curation" -> Curation.defs)
    .flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  def readLines(f: String): Vector[String] =
    Files.readAllLines(Paths.get(f)).asScala.toVector.filter(_.nonEmpty)
}

import Harness._

/** The two Spark-session conf sets: `graft.Bench`'s for the
  * battery, `SchemaGen.main`'s for the DDL path. */
object Sessions {
  val benchConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def bench(cpus: String, localDir: String, warehouse: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
    benchConfs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }
  val benchKeys: Seq[String] = Seq("spark.sql.shuffle.partitions", "spark.local.dir",
    "spark.sql.warehouse.dir") ++ benchConfs.map(_._1)

  /** Exactly the session `SchemaGen.main` builds. */
  def schemaGen(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[2]"))
    .appName("graft-schemagen")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
  val schemaGenKeys: Seq[String] = Seq("spark.app.name", "spark.ui.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")
}

/** One DDL input: an id, a Parquet path, table, primary key, mode, and
  * where this JVM writes its output. */
final case class DdlInput(id: String, path: String, table: String, pk: String,
                          mode: String, outDir: String) {
  def chMode: ClickHouseType.Mode =
    if (mode == "extended") ClickHouseType.Extended else ClickHouseType.Legacy
  def cliArgs(out: String): Array[String] =
    Array("--parquet-path", path, "--clickhouse-schema-path", out,
      "--table-name", table, "--primary-key", pk) ++
      (if (mode == "extended") Array("--mode", "extended") else Array.empty[String])
}
object DdlInput {
  def load(f: String): Vector[DdlInput] = readLines(f).map { l =>
    val Array(id, path, table, pk, mode, out) = l.split("\t")
    DdlInput(id, path, table, pk, mode, out)
  }
}

/** Warm in-process DDL calls, shared by the DDL workload and the battery
  * (which reports the same latency from a session busy with queries). */
object DdlCalls {
  /** Untraced: the library entry point, one call per input per round.
    * `warmup` rounds first, then at least `rounds` more, and further rounds
    * while those after the warm-up have taken less than `seconds`. */
  def warm(spark: SparkSession, inputs: Seq[DdlInput], warmup: Int, rounds: Int,
           seconds: Double): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var r = 0
    var t0 = System.nanoTime()
    while (r < warmup + rounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      r += 1
      out ++= warmRound(spark, inputs, r)
      if (r == warmup) t0 = System.nanoTime()
    }
    out.toSeq
  }

  private def warmRound(spark: SparkSession, inputs: Seq[DdlInput], r: Int): Seq[String] =
    inputs.map { in =>
      val out = s"${in.outDir}/${in.id}.${in.mode}.warm.sql"
      val t0 = System.nanoTime()
      val err = try {
        SchemaUtils.parquetSchemaToClickHouse(spark, in.path, out, in.table, in.pk, in.chMode)
        ""
      } catch { case e: Throwable => String.valueOf(e.getMessage) }
      val ms = (System.nanoTime() - t0) / 1e6
      jobj(Seq("input" -> js(in.id), "mode" -> js(in.mode), "round" -> r.toString,
        "ms" -> jnum(ms), "out" -> js(out), "error" -> js(err)))
    }

  /** Traced: `SchemaGen.main` replayed through its public pieces, one span
    * per piece, so footer read, render and write are timed apart. */
  def replay(spark: SparkSession, tr: Tracer, inputs: Seq[DdlInput], rounds: Int,
             parent: Long): Seq[String] =
    (1 to rounds).flatMap { r =>
      inputs.map { in =>
        val out = s"${in.outDir}/${in.id}.${in.mode}.replay.sql"
        val t0 = System.nanoTime()
        val err = try {
          tr.span("op", s"ddl:${in.id}.${in.mode}", "chschema", parent) { op =>
            val cfg = tr.span("parse", "parseArgs", "chschema", op)(_ => SchemaGen.parseArgs(in.cliArgs(out)))
            val schema = tr.span("footer", "parquetSchema", "chschema", op)(_ =>
              SchemaUtils.parquetSchema(spark, cfg.parquetPath))
            val ddl = tr.span("render", "render", "chschema", op)(_ =>
              DdlRenderer.render(schema, cfg.table, cfg.pk, cfg.mode, Set.empty, cfg.partitionBy, cfg.orderBy))
            tr.span("write", "write", "chschema", op)(_ => Files.writeString(Paths.get(cfg.outPath), ddl))
          }
          ""
        } catch { case e: Throwable => String.valueOf(e.getMessage) }
        val ms = (System.nanoTime() - t0) / 1e6
        jobj(Seq("input" -> js(in.id), "mode" -> js(in.mode), "round" -> r.toString,
          "ms" -> jnum(ms), "out" -> js(out), "error" -> js(err)))
      }
    }
}

final case class DdlRun(o: Map[String, String]) {
  def run(): Unit = {
    val traced = o("trace") == "1"
    val warmup = o("warmup").toInt
    val rounds = o("rounds").toInt
    val inputs = DdlInput.load(o("list"))
    val t0 = System.nanoTime()
    val spark = Sessions.schemaGen()
    val startS = (System.nanoTime() - t0) / 1e9
    val readyMs = System.currentTimeMillis()
    val listener = new ExecListener
    val tr = new Tracer(traced, spark.sparkContext)
    val warm = DdlCalls.warm(spark, inputs, warmup, rounds, o("seconds").toDouble)
    val replay =
      if (!traced) Seq.empty
      else {
        spark.sparkContext.addSparkListener(listener)
        val rs = tr.span("run", "ddl_replay", "", 0L)(id =>
          DdlCalls.replay(spark, tr, inputs, warmup + rounds, id))
        listener.drain(spark.sparkContext)
        rs
      }
    val ctx = context(spark, Sessions.schemaGenKeys)
    val peak = peakRssMb
    val t1 = System.nanoTime()
    spark.stop()
    val stopS = (System.nanoTime() - t1) / 1e9
    val out = jobj(Seq(
      "context" -> ctx, "ready_epoch_ms" -> readyMs.toString,
      "session_start_s" -> jnum(startS), "session_stop_s" -> jnum(stopS),
      "peak_rss_mb" -> jnum(peak),
      "warm" -> warm.mkString("[", ",", "]"), "replay" -> replay.mkString("[", ",", "]"),
      "spans" -> tr.spansJson, "jobs" -> listener.jobsJson, "stages" -> listener.stagesJson))
    Files.writeString(Paths.get(o("out")), out)
  }
}

final case class BatteryRun(o: Map[String, String]) {
  private val dataDir = o("data")
  private val tmp = Paths.get(o("tmp"))
  private val traced = o("trace") == "1"
  private val seconds = o("seconds").toDouble
  private val cpus = sys.env("SPARK_GRAFT_CPUS")

  def run(): Unit = {
    val plan = readLines(o("plan")).map { l =>
      val Array(kind, names) = l.split("\t")
      kind -> names.split(",").toVector
    }
    val defs = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
    val startBytes = treeBytes(tmp)._1
    val t0 = System.nanoTime()
    val spark = Sessions.bench(cpus, o("local"), tmp.resolve("warehouse").toString)
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.nanoTime() - t0) / 1e9
    val listener = new ExecListener
    val tr = new Tracer(traced, spark.sparkContext)
    val runSpan = tr.begin("run", "battery", "", 0L)

    def pass(kind: String, names: Vector[String], withTrace: Boolean, idx: Int): String = {
      val ptr = if (withTrace) tr else new Tracer(false, spark.sparkContext)
      if (withTrace) spark.sparkContext.addSparkListener(listener)
      val bringBefore = StreamingOps.bringUpSeconds
      val c0 = processCpuS
      val w0 = System.nanoTime()
      val pid = ptr.begin("pass", s"$kind-$idx", "", runSpan)
      val ops = names.map(n => runOp(spark, ptr, defs(n), pid))
      ptr.end(pid, runSpan)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = processCpuS - c0
      if (withTrace) {
        listener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val bringNew = StreamingOps.bringUpSeconds.filter { case (k, v) => !bringBefore.get(k).contains(v) }
      val (bytes, files) = treeBytes(tmp)
      jobj(Seq("kind" -> js(kind), "traced" -> withTrace.toString, "span" -> pid.toString,
        "wall_s" -> jnum(wall), "cpu_s" -> jnum(cpu),
        "artifact_bytes" -> bytes.toString, "artifact_files" -> files.toString,
        "bring_up" -> jobj(bringNew.toSeq.sorted.map { case (k, v) => k -> jnum(v) }),
        "ops" -> ops.mkString("[", ",", "]")))
    }

    // set-up: the cold pass (traced in a traced run: cold construct times
    // and streaming bring-ups come from it), then the untimed warm-up
    // passes that let JIT compilation settle before timing
    val setup = plan.filter(_._1 != "timed").zipWithIndex.map { case ((k, ns), i) =>
      pass(k, ns, withTrace = traced && k == "cold", i) }
    val readyMs = System.currentTimeMillis()
    val setupBytes = treeBytes(tmp)._1
    val timedPlans = plan.filter(_._1 == "timed")
    val timed = ArrayBuffer.empty[String]
    val tStart = System.nanoTime()
    var i = 0
    // at least one pass. A traced run alternates traced and untraced passes
    // and makes at least two: the traced one first, in the place of an
    // untraced run's timed pass, then an untraced one that trace.overhead
    // divides by (JIT warm-up left after the warm-up pass makes that ratio
    // err high, never low). More passes follow while another as long as
    // the last still fits in `seconds`.
    var last = 0.0
    while (i < timedPlans.size &&
      (i < (if (traced) 2 else 1) || (System.nanoTime() - tStart) / 1e9 + last <= seconds)) {
      val withTrace = traced && i % 2 == 0
      val p0 = System.nanoTime()
      timed += pass("timed", timedPlans(i)._2, withTrace, i)
      last = (System.nanoTime() - p0) / 1e9
      i += 1
    }

    // after the timed passes: the warm DDL call from this busy session,
    // then (traced runs only) the per-module probes
    val ddl = DdlInput.load(o("ddl-list"))
    val warmup = o("warmup").toInt
    val rounds = o("rounds").toInt
    val ddlWarm = DdlCalls.warm(spark, ddl, warmup, rounds, 0.0)
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ddlReplay =
      if (traced) tr.span("pass", "ddl_replay", "", runSpan)(id => DdlCalls.replay(spark, tr, ddl, warmup + rounds, id))
      else Seq.empty
    val probes =
      if (traced)
        Seq("kernels" -> Probes.kernels(spark, tr, dataDir, runSpan),
          "sources" -> Probes.sources(spark, tr, dataDir, tmp.resolve("sources_probe"), runSpan))
      else Seq.empty
    tr.end(runSpan, 0L)
    if (traced) listener.drain(spark.sparkContext)
    val ctx = context(spark, Sessions.benchKeys)
    val peak = peakRssMb
    val t1 = System.nanoTime()
    spark.stop()
    val stopS = (System.nanoTime() - t1) / 1e9
    val out = jobj(Seq(
      "context" -> ctx, "ready_epoch_ms" -> readyMs.toString,
      "session_start_s" -> jnum(startS), "session_stop_s" -> jnum(stopS),
      "start_artifact_bytes" -> startBytes.toString,
      "setup_artifact_bytes" -> setupBytes.toString,
      "peak_rss_mb" -> jnum(peak),
      "passes" -> (setup ++ timed).mkString("[", ",", "]"),
      "ddl_warm" -> ddlWarm.mkString("[", ",", "]"),
      "ddl_replay" -> ddlReplay.mkString("[", ",", "]"),
      "spans" -> tr.spansJson, "jobs" -> listener.jobsJson,
      "stages" -> listener.stagesJson) ++ probes)
    Files.writeString(Paths.get(o("out")), out)
  }

  /** One op: `run(spark, dir)` (construct), plan forcing, then the single
    * timed action that yields the row count and digest (exec). A failure
    * is recorded, never timed as a success. */
  private def runOp(spark: SparkSession, tr: Tracer, d: QueryDef, parent: Long): String = {
    val module = moduleOf(d.name)
    val t0 = System.nanoTime()
    var tc, tp, te = 0L
    var rows = -1L
    var digest = ""
    var err = ""
    var opSpan = 0L
    try {
      opSpan = tr.begin("op", d.name, module, parent)
      val df = tr.span("construct", d.name, module, opSpan)(_ => d.run(spark, dataDir))
      tc = System.nanoTime()
      val dg = tr.span("plan", d.name, module, opSpan) { _ =>
        val x = digestFrame(df); x.queryExecution.executedPlan; x }
      tp = System.nanoTime()
      val r = tr.span("exec", d.name, module, opSpan)(_ => dg.collect().head)
      te = System.nanoTime()
      val (n, h) = digestRow(r)
      rows = n; digest = h
    } catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      if (opSpan != 0L) tr.end(opSpan, parent)
    }
    val t1 = System.nanoTime()
    spark.catalog.clearCache()
    def s(a: Long, b: Long) = if (a == 0L || b == 0L) 0.0 else (b - a) / 1e9
    jobj(Seq("name" -> js(d.name), "module" -> js(module), "span" -> opSpan.toString,
      "wall_s" -> jnum((t1 - t0) / 1e9), "construct_s" -> jnum(s(t0, tc)),
      "plan_s" -> jnum(s(tc, tp)), "exec_s" -> jnum(s(tp, te)),
      "rows" -> rows.toString, "digest" -> js(digest), "error" -> js(err)))
  }
}

/** Traced-run probes of single layers: the public `functions` kernels per
  * call, and each `sources` index built on an empty store then served. */
object Probes {
  private def medianNsPerCall(n: Int)(call: Int => Any): Double = {
    def rep(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { call(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    (1 to 3).foreach(_ => rep())
    val xs = (1 to 9).map(_ => rep()).sorted
    xs(xs.size / 2)
  }

  def kernels(spark: SparkSession, tr: Tracer, dataDir: String, parent: Long): String =
    tr.span("op", "kernels", "functions", parent) { _ =>
      val texts = spark.read.parquet(s"$dataDir/documents.parquet").select("text")
        .collect().map(r => UTF8String.fromString(r.getString(0)))
      val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet").select("embedding")
        .collect().map(r => new GenericArrayData(r.getSeq[Float](0).toArray): ArrayData)
      val toks: Array[ArrayData] = texts.map(t =>
        new GenericArrayData(t.toString.split(" ").map(UTF8String.fromString)))
      val hashes: Array[ArrayData] = toks.map(graft.functions.HashArray.hashAll(_))
      val sortedHashes: Array[ArrayData] = hashes.map(h =>
        new GenericArrayData(h.toLongArray().distinct.sorted))
      val nd = texts.length
      val nv = vecs.length
      import org.apache.spark.sql.catalyst.expressions.Literal
      val sig = graft.functions.MinHashSigExpr(Literal(null, ArrayType(LongType)))
      val cos = graft.functions.FloatVecCosine(Literal(null, ArrayType(FloatType)),
        Literal(null, ArrayType(FloatType)))
      val res = Seq(
        "shingle" -> medianNsPerCall(nd)(i => graft.functions.Shingles.shingle(toks(i), 3)),
        "hash_array" -> medianNsPerCall(nd)(i => graft.functions.HashArray.hashAll(toks(i))),
        "substr_hash" -> medianNsPerCall(nd)(i => graft.functions.SubstrHash.hashWindows(texts(i), 8)),
        "bigram_hashes" -> medianNsPerCall(nd)(i => graft.functions.BigramHashes.hashes(toks(i))),
        "token_max_run" -> medianNsPerCall(nd)(i => graft.functions.TokenMaxRun.maxRun(toks(i))),
        "sorted_intersect" -> medianNsPerCall(nd)(i =>
          graft.functions.SortedIntersect.count(sortedHashes(i), sortedHashes((i + 1) % nd))),
        "minhash_sig" -> medianNsPerCall(nd)(i => sig.nullSafeEval(hashes(i))),
        "vec_cosine" -> medianNsPerCall(nv)(i => cos.nullSafeEval(vecs(i), vecs((i + 1) % nv))))
      jobj(res.map { case (k, v) => k -> jnum(v) })
    }

  def sources(spark: SparkSession, tr: Tracer, dataDir: String, store: Path, parent: Long): String = {
    val old = System.getProperty("java.io.tmpdir")
    Files.createDirectories(store)
    System.setProperty("java.io.tmpdir", store.toString)
    try {
      val idx: Seq[(String, () => DataFrame)] = Seq(
        "sigs" -> (() => graft.sources.MinHashSigIndex.sigs(spark, dataDir)),
        "edges" -> (() => graft.sources.KnnGraphIndex.edges(spark, dataDir)),
        "pairs" -> (() => graft.sources.NeardupPairsIndex.pairs(spark, dataDir)))
      val res = idx.map { case (name, f) =>
        def call(phase: String): (Double, String) =
          tr.span("op", s"sources.$name.$phase", "sources", parent) { _ =>
            val t0 = System.nanoTime()
            val (n, h) = digestRow(digestFrame(f()).collect().head)
            ((System.nanoTime() - t0) / 1e9, s"$n/$h")
          }
        val (b, db) = call("build")
        val (s, ds) = call("serve")
        name -> jobj(Seq("build_s" -> jnum(b), "serve_s" -> jnum(s),
          "build_digest" -> js(db), "serve_digest" -> js(ds)))
      }
      val (bytes, files) = treeBytes(store)
      jobj(res ++ Seq("store_bytes" -> bytes.toString, "store_files" -> files.toString))
    } finally System.setProperty("java.io.tmpdir", old)
  }
}

/** Checks of the digest itself, run by perfbench/selftest.py. */
object SelfTest {
  def run(out: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    import spark.implicits._
    def d(df: DataFrame): String = { val (n, h) = digestRow(digestFrame(df).collect().head); s"$n/$h" }
    val base = (1 to 500).map(i => (i, s"v$i", i * 0.5, Seq(i, i + 1), Map(s"k$i" -> i)))
      .toDF("a", "b.c", "x", "arr", "m")
    val shuffled = base.repartition(7).orderBy(rand(11))
    val changed = base.withColumn("x", when(col("a") === 250, lit(125.25)).otherwise(col("x")))
    val dropped = base.filter(col("a") =!= 250)
    val nested = base.select(struct(col("a"), col("m")).as("s"))
    val res = Seq(
      "base" -> d(base), "shuffled" -> d(shuffled), "changed" -> d(changed),
      "dropped" -> d(dropped), "nested_map" -> d(nested),
      "nested_map_shuffled" -> d(nested.repartition(5)),
      "empty" -> d(base.limit(0)))
    Files.writeString(Paths.get(out), jobj(res.map { case (k, v) => k -> js(v) }))
    spark.stop()
  }
}

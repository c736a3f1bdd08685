package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Canary, Incremental, Pipeline}
import graft.config.EtlConfig
import graft.sinks.Mbtiles
import graft.sources.Sources

/** One benchmark run of one workload in a fresh JVM: set up, then run
  * operations for `--seconds` (at least one), each timed alone and
  * checked outside its timing. With `--trace 1`, the first operation is
  * traced instead, and one untraced operation follows to check its
  * output. Writes the raw record (operations, checks, spans, context) as
  * JSON to `--out`; `run.py` turns it into metrics.
  *
  * Usage: Main --workload base|region_build|region_delta --seed N
  *             --seconds S --trace 0|1 --cores N --long-a CSV
  *             [--long-b CSV] --geo JSONL [--base DIR] --work DIR --out FILE
  *
  * `base` builds the region_delta base tree (a full build of snapshot A
  * and its fingerprint artifact) into `--base`.
  */
object Main {

  final case class Op(wallS: Double, error: Option[String],
                      outBytes: Long, tilesRewritten: Long) {
    def record: Map[String, Any] = Map("wall_s" -> wallS, "ok" -> error.isEmpty,
      "error" -> error, "out_bytes" -> outBytes, "tiles_rewritten" -> tilesRewritten)
  }

  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private def check(name: String, ok: Boolean): Boolean = {
    checks(name) = checks.getOrElse(name, true) && ok
    ok
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val jvmT0 = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${elapsed(jvmT0)}%7.1f s  $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = jvmS + elapsed(t0)
    progress("session started")
    try {
      val in = Inputs(a("long-a"), a.get("long-b"), a("geo"))
      in.all.foreach(Region.requireHeader)
      val record = a("workload") match {
        case "base" =>
          buildBase(spark, in, a("base"))
          Map("setup_s" -> (sessionS + elapsed(t0)))
        case w =>
          val run = Run(spark, a("seed").toLong, a("seconds").toDouble,
            a("trace") == "1", in, work)
          val body = w match {
            case "region_build" => regionBuild(run)
            case "region_delta" => regionDelta(run, a("base"))
            case _ => throw new IllegalArgumentException(s"unknown workload $w")
          }
          body ++ Map(
            "setup_s" -> (sessionS + body("setup_s").asInstanceOf[Double]),
            "peak_rss_mb" -> peakRssMb(),
            "checks" -> checks,
            "context" -> Map(
              "master" -> spark.sparkContext.master,
              "cores" -> cores,
              "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
              "seed" -> run.seed,
              "canary_after" -> Canary.sampleLite()))
      }
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(a("out")), record)
    } finally spark.stop()
  }

  final case class Inputs(longA: String, longB: Option[String], geo: String) {
    def all: Seq[String] = longA +: longB.toSeq
  }

  final case class Run(spark: SparkSession, seed: Long, seconds: Double,
                       trace: Boolean, in: Inputs, work: String)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Run `op` until `seconds` have passed, at least once. */
  private def loop(seconds: Double)(op: => Op): Seq[Op] = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    while (ops.isEmpty || elapsed(t0) < seconds) ops += logged(op)
    ops.toSeq
  }

  private def logged(op: Op): Op = {
    progress(f"op: ${op.wallS}%.2f s ${op.error.getOrElse("ok")}")
    op
  }

  /** Time `body`; a throw or a failed check makes the operation failed,
    * and a failed operation reports no timing.
    */
  private def timed(body: => Unit)(verify: => (Option[String], Long, Long)): Op = {
    val s0 = System.nanoTime()
    try {
      body
      val wall = elapsed(s0)
      val (error, bytes, tiles) = verify
      Op(if (error.isEmpty) wall else -1, error, bytes, tiles)
    } catch { case e: Throwable =>
      Op(-1, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), 0, 0)
    }
  }

  // ---- base tree for region_delta ------------------------------------------

  private def buildBase(spark: SparkSession, in: Inputs, base: String): Unit = {
    val feats = Region.features(spark, in.geo)
    Pipeline.runRegion(spark, in.longA, Region.InputType, Region.metricLongNames,
      Region.Name, features = Some(feats), outDir = Some(s"$base/tree"))
    Incremental.fingerprints(Sources.readCsv(spark, in.longA,
      Sources.longSchema(Region.metricLongNames)))
      .write.mode("overwrite")
      .parquet(s"$base/tree/${Region.Name}/fingerprints.parquet")
    feats.unpersist()
    progress("base tree built")
  }

  // ---- region_build --------------------------------------------------------

  private def regionBuild(run: Run): Map[String, Any] = {
    import run._
    val out = s"$work/build"
    val region = new File(s"$out/tiles/${Region.Name}")
    val cells = scala.io.Source.fromFile(in.geo).getLines().size.toLong
    var md5: Option[String] = None

    /** Output checks; None when they pass. */
    def verify(tag: String): Option[String] = {
      val (wideHeader, wideRows) = Files.csvShape(new File(s"$out/wide"))
      val metricCols = wideHeader.count(c => !EtlConfig.idColumns.contains(c))
      var ok = check(s"$tag.wide_rows", wideRows == cells) &
        check(s"$tag.extents_rows",
          Files.csvShape(new File(s"$out/extents"))._2 == metricCols)
      for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
        val pbf = Files.walk(new File(region, decade))
          .count(_.getFileName.toString.endsWith(".pbf"))
        ok &= check(s"$tag.mbtiles_count",
          Mbtiles.readMbtiles(spark, s"$region/$decade.mbtiles").count() == pbf)
      }
      val m = Files.treeMd5(region)
      ok &= check(s"$tag.md5_stable", md5.forall(_ == m))
      md5 = md5.orElse(Some(m))
      if (ok) None else Some(s"$tag output check failed")
    }
    def outputs: (Long, Long) = (Files.bytes(new File(out)),
      Files.walk(region).count(_.getFileName.toString.endsWith(".pbf")).toLong)

    def build(tag: String)(body: => Unit): Op = {
      Files.deleteTree(new File(out))
      timed(body) {
        val e = verify(tag)
        val (bytes, tiles) = outputs
        (e, bytes, tiles)
      }
    }
    def plain = build("build")(Region.build(spark, in.longA, in.geo, out))

    if (!trace) Map("setup_s" -> 0.0, "ops" -> loop(seconds)(plain).map(_.record))
    else {
      // the traced staged drive first, as cold as an untraced run's
      // operation; then runRegion, which must write the same tree
      val tracer = new Tracer(spark, s"region_build-$seed")
      val op = logged(build("traced")(tracer.span("region_build") {
        Region.stagedBuild(spark, tracer, in.longA, in.geo, out)
      }))
      val rec = tracer.finish()
      val again = logged(plain)
      check("traced.md5_matches_runRegion", again.error.isEmpty)
      Map("setup_s" -> 0.0, "ops" -> Seq(op, again).map(_.record),
        "trace" -> (rec ++ Map("wall_s" -> op.wallS)))
    }
  }

  // ---- region_delta --------------------------------------------------------

  private def regionDelta(run: Run, base: String): Map[String, Any] = {
    import run._
    val s0 = System.nanoTime()
    val longB = in.longB.get
    val feats = Region.features(spark, in.geo)
    feats.count()
    val live = s"$work/live"
    val liveRegion = new File(s"$live/${Region.Name}")
    val baseMd5 = Files.treeMd5(new File(s"$base/tree/${Region.Name}"))
    def reset(): Unit = Files.copyTree(new File(s"$base/tree"), new File(live))
    val setupS = elapsed(s0)
    var toB: Option[String] = None
    var lastRewrite = Files.Rewrite(0, 0, 0, 0)

    /** One delta in place on the live tree. It must stay on the
      * incremental path and rewrite no more tiles than it reports
      * affected; A→B must change the tree, always to the same bytes; B→A
      * must restore the full build of A byte for byte.
      */
    def step(tag: String, from: String, to: String)(delta: => Incremental.Stats): Op = {
      val before = Files.tiles(liveRegion)
      var stats: Incremental.Stats = null
      timed { stats = delta } {
        lastRewrite = Files.rewrite(before, Files.tiles(liveRegion))
        val rewritten = lastRewrite.written + lastRewrite.vanished
        val m = Files.treeMd5(liveRegion)
        var ok = check(s"$tag.stays_incremental", !stats.fullRebuild) &
          check(s"$tag.rewrites_within_affected",
            rewritten > 0 && rewritten <= stats.affectedTiles * EtlConfig.decades.size)
        if (to == longB) {
          ok &= check(s"$tag.tree_changed", m != baseMd5) &
            check(s"$tag.md5_stable", toB.forall(_ == m))
          toB = toB.orElse(Some(m))
        } else ok &= check(s"$tag.matches_full_build", m == baseMd5)
        if (!ok) reset()
        (if (ok) None else Some(s"$tag output check failed"),
          lastRewrite.bytes, rewritten.toLong)
      }
    }
    def plain(tag: String, from: String, to: String) =
      step(tag, from, to)(Region.delta(spark, from, to, feats, live))

    val result = if (!trace)
      // one run measures the A→B delta from the base tree
      Map("ops" -> loop(seconds) { reset(); plain("delta", in.longA, longB) }
        .map(_.record))
    else {
      // the traced A→B first, as cold as an untraced run's operation;
      // then the way back B→A, which must restore the full build of A
      reset()
      val tracer = new Tracer(spark, s"region_delta-$seed")
      val op = logged(step("traced", in.longA, longB)(tracer.span("region_delta") {
        Region.tracedDelta(spark, tracer, in.longA, longB, feats, live)
      }))
      val rw = lastRewrite
      val rec = tracer.finish()
      val back = logged(plain("back", longB, in.longA))
      Map("ops" -> Seq(op, back).map(_.record),
        "trace" -> (rec ++ Map("wall_s" -> op.wallS, "counters" -> Map(
          "pbf_sink.files" -> rw.written.toDouble,
          "pbf_sink.bytes" -> rw.bytes.toDouble,
          "incremental.rewritten" -> (rw.written + rw.vanished).toDouble,
          "incremental.rewritten_changed" -> rw.changedBytes.toDouble))))
    }
    feats.unpersist()
    result ++ Map("setup_s" -> setupS)
  }
}

package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Incremental, Pipeline}
import graft.config.EtlConfig
import graft.operators.{Geometry, Tiling}
import graft.sinks.{Mbtiles, TileBuild}
import graft.sources.Sources

/** The block-groups region as the paper's nightly job runs it. */
object Region {
  val Name = "block-groups"
  val InputType = "raw"

  /** Metric long-names in CSV column order (all raw-map metrics). */
  val metricLongNames: Seq[String] = EtlConfig.columnMapRaw.map(_._1)
    .filterNot(Seq("id", "name", "parent_location").contains)

  /** The generated long CSV's header must be the schema the scan applies
    * by position.
    */
  def requireHeader(csv: String): Unit = {
    val src = scala.io.Source.fromFile(csv)
    val header = try src.getLines().next() finally src.close()
    val expected = Sources.longSchema(metricLongNames).fieldNames.mkString(",")
    require(header == expected, s"$csv header differs from the long schema")
  }

  private val ExtendBudget = 10000 // runRegion's default tile budget

  def features(spark: SparkSession, geo: String): DataFrame =
    Pipeline.geometryFeatures(Sources.readGeoJsonLines(spark, geo))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** `build.sh -e -t` for one region: features, wide CSV, extents CSV,
    * pbf tree and `.mbtiles` under `out`.
    */
  def build(spark: SparkSession, csv: String, geo: String, out: String): Unit = {
    val f = features(spark, geo)
    try Pipeline.runRegion(spark, csv, InputType, metricLongNames, Name,
      features = Some(f), outDir = Some(s"$out/tiles"),
      wideOut = Some(s"$out/wide"), extentsOut = Some(s"$out/extents"),
      mbtiles = true)
    finally f.unpersist()
  }

  /** [[build]] driven stage by stage through the public functions
    * `Pipeline.runRegion` composes, each stage's output materialized at
    * the end of its span. The output tree must be byte-identical to
    * [[build]]'s (checked by the caller).
    */
  def stagedBuild(spark: SparkSession, t: Tracer, csv: String, geo: String,
                  out: String): Unit = {
    val long = t.span("sources.scan") {
      val l = Sources.readCsv(spark, csv, Sources.longSchema(metricLongNames))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.count("sources.rows", l.count().toDouble)
      l
    }
    val wide = t.span("shape") {
      val w = Pipeline.shape(long, InputType).persist(StorageLevel.MEMORY_AND_DISK)
      w.count()
      w
    }
    long.unpersist()
    t.span("sources.csv_write") {
      Sources.writeCsv(wide, s"$out/wide")
      t.count("sources.csv_bytes", Files.bytes(new File(s"$out/wide")).toDouble)
    }
    val ext = t.span("extents") {
      val e = Pipeline.extents(wide).persist()
      e.count()
      e
    }
    t.span("sources.csv_write") {
      Sources.writeCsv(ext, s"$out/extents", singleFile = true)
      t.count("sources.csv_bytes", Files.bytes(new File(s"$out/extents")).toDouble)
    }
    ext.unpersist()
    val f = t.span("geometry") {
      val g = features(spark, geo)
      t.count("geometry.features", g.count().toDouble)
      g
    }
    val bounds = t.span("geometry") {
      val bb = Geometry.bboxColumns(col("polys"))
      val r = f.select(min(bb(0)._2), min(bb(2)._2), max(bb(1)._2),
        max(bb(3)._2)).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    val zoom = EtlConfig.choroplethZoom(Name)
    val knobs = EtlConfig.choroplethBuild(Name)
    val choroMaxZ = if (zoom.extend && !knobs.coalesce) t.span("tiling") {
      Tiling.extendMaxZoom(f, "lon", "lat", zoom.maxZoom, zoom.maxZoom + 2,
        budget = ExtendBudget)
    } else zoom.maxZoom
    val polyFeats = t.span("tilebuild") {
      val p = Pipeline.choroTileFeatures(f, Name, choroMaxZ).persist()
      p.count()
      p
    }
    val bz = EtlConfig.bubbleZoom(Name)
    val bubbleMaxZ = if (bz.extend) Some(t.span("tiling") {
      Tiling.extendMaxZoom(f, "lon", "lat", bz.maxZoom, bz.maxZoom + 2,
        budget = ExtendBudget)
    }) else None
    for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
      val merged = t.span("tilebuild") {
        val bubble = Pipeline.decadeTiles(wide, f, InputType, decade, "bubble",
          Name, maxZoomOverride = bubbleMaxZ)
        val choro = Pipeline.choroDecadeEncode(wide, polyFeats, InputType,
          decade, Name)
        val m = layerMerge(bubble, choro).persist(StorageLevel.MEMORY_AND_DISK)
        val r = m.agg(count(lit(1)), sum(length(col("tile_bytes")))).head()
        t.count("tilebuild.tiles", r.getLong(0).toDouble)
        t.count("tilebuild.tile_bytes", r.getLong(1).toDouble)
        m
      }
      val maxZoomOut = math.max(bubbleMaxZ.getOrElse(bz.maxZoom), choroMaxZ)
      val (x0, y0, x1, y1) = bounds
      val meta = Map("name" -> s"$Name-$decade",
        "type" -> "overlay",
        "minzoom" -> math.min(bz.minZoom, zoom.minZoom).toString,
        "maxzoom" -> maxZoomOut.toString,
        "layers" -> s"$Name-$decade-bubble,$Name-$decade-choropleth",
        "bounds" -> s"$x0,$y0,$x1,$y1",
        "center" -> s"${(x0 + x1) / 2},${(y0 + y1) / 2},$maxZoomOut")
      val dir = s"$out/tiles/$Name/$decade"
      t.span("pbf_sink") {
        TileBuild.writePbfDirectory(merged, dir, meta)
        val files = Files.walk(new File(dir)).filter(Files.isTileFile)
        t.count("pbf_sink.files", files.size.toDouble)
        t.count("pbf_sink.bytes",
          files.map(p => java.nio.file.Files.size(p)).sum.toDouble)
      }
      t.span("mbtiles") {
        Mbtiles.writeMbtiles(merged, s"$dir.mbtiles", meta + ("format" -> "pbf"))
        t.count("mbtiles.bytes", new File(s"$dir.mbtiles").length().toDouble)
      }
      merged.unpersist()
    }
    polyFeats.unpersist()
    f.unpersist()
    wide.unpersist()
  }

  /** runRegion's layer union-merge (tile-join): align bubble and
    * choropleth tiles on (z, x, y) and concatenate their layer bytes.
    */
  private def layerMerge(bubble: DataFrame, choro: DataFrame): DataFrame =
    bubble.select(col("z"), col("x"), col("y"), col("tile_bytes").as("bubble_bytes"))
      .join(choro.select(col("z"), col("x"), col("y"),
        col("tile_bytes").as("choro_bytes")), Seq("z", "x", "y"), "full_outer")
      .select(col("z"), col("x"), col("y"),
        concat(coalesce(col("bubble_bytes"), lit(Array.empty[Byte])),
          coalesce(col("choro_bytes"), lit(Array.empty[Byte]))).as("tile_bytes"))

  /** The nightly delta, in place on `tree`. */
  def delta(spark: SparkSession, fromCsv: String, toCsv: String,
            feats: DataFrame, tree: String): Incremental.Stats =
    Incremental.incrementalRegion(spark, fromCsv, toCsv, InputType,
      metricLongNames, Name, feats, prevDir = tree, outDir = tree)

  /** [[delta]] with probe spans in front: the new-snapshot scan, the
    * fingerprint diff against the stored artifact and the tile fan,
    * each as the program computes it; then the delta as one span.
    */
  def tracedDelta(spark: SparkSession, t: Tracer, fromCsv: String,
                  toCsv: String, feats: DataFrame, tree: String): Incremental.Stats = {
    val newLong = t.span("sources.scan") {
      val l = Sources.readCsv(spark, toCsv, Sources.longSchema(metricLongNames))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.count("sources.rows", l.count().toDouble)
      l
    }
    t.span("incremental.fingerprint") {
      val stored = spark.read.parquet(s"$tree/$Name/fingerprints.parquet")
      Incremental.diffFingerprints(stored, Incremental.fingerprints(newLong)).count()
    }
    newLong.unpersist()
    t.span("incremental.fan") {
      Incremental.featureTileFan(feats, Name).count()
    }
    t.span("incremental") {
      val st = delta(spark, fromCsv, toCsv, feats, tree)
      t.count("incremental.changed", (st.changed + st.added + st.removed).toDouble)
      t.count("incremental.affected_tiles", st.affectedTiles.toDouble)
      t.count("incremental.contributors", st.contributors.toDouble)
      st
    }
  }
}

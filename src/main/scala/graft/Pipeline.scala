package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EtlConfig
import graft.operators.{Extents, Geometry, Joins, Shape, Tiling}
import graft.sinks.TileBuild
import graft.sources.Sources

/** The reference pipeline end-to-end (`/root/reference/build.sh`), as one
  * lazy Spark plan per region: fetch → shape (pivot) → extents → decade
  * slice → attribute join → tiles → pbf directory.
  *
  * Stage boundaries in the reference are OS processes exchanging CSV
  * files (SURVEY.md §3.1 — "the IR is a CSV file"); here every stage is
  * a `DataFrame => DataFrame` and the only materialization barriers are
  * the pivot shuffle and the per-tile groupBy shuffle. Regions and
  * decades are embarrassingly parallel (`build.sh:69,163`) — on a
  * cluster, submit them as parallel jobs over one shared SparkSession.
  */
object Pipeline {

  /** Stage b — shape (`scripts/shape-data.js` / `build.sh:80`): rename
    * via the input-type column map (unmapped dropped), default
    * parent_location, pivot long→wide with deterministic last-wins,
    * ordered by GEOID.
    */
  def shape(long: DataFrame, inputType: String,
            years: Seq[String] = EtlConfig.allYears): DataFrame = {
    val mapping = EtlConfig.columnMap(inputType)
      .filter { case (from, _) => long.columns.contains(from) }
    val metrics = mapping.map(_._2).filterNot(EtlConfig.idColumns.contains)
    val renamed = Shape.renameColumns(long, mapping, keep = Seq("year"))
      .withColumn("pl",
        Shape.defaultParentLocation(col("pl"), EtlConfig.parentLocationDefault))
      .withColumn("yy", Shape.yearSuffix(col("year")))
      .withColumn("ord", monotonically_increasing_id())
    Shape.pivotWide(renamed, idCol = "GEOID",
      carry = EtlConfig.idColumns.filterNot(_ == "GEOID"),
      yearCol = "yy", metrics = metrics, years = years, ordCol = "ord")
  }

  /** Stage c — extents (`scripts/extract-extents.js` / `build.sh:84-88`):
    * per metric-year column min/max/q1/q99 over numeric cells; skips the
    * id columns (`extract-extents.js:12`).
    */
  def extents(wide: DataFrame): DataFrame = {
    val metricCols = wide.columns.filterNot(EtlConfig.idColumns.contains).toSeq
    Extents.extents(wide, metricCols).orderBy("id")
  }

  /** Stage d — feature derivation from source geometry
    * (`build.sh:111-118`: mapshaper `-points inner`): GeoJSON features →
    * parsed polygon rings + polylabel interior point, in one typed map.
    * Output columns: GEOID, polys (parsed rings), lon, lat (the bubble
    * center, guaranteed inside the polygon).
    */
  def geometryFeatures(geo: DataFrame): DataFrame = {
    val parsed = geo.select(col("GEOID"),
        Geometry.parsePolygons(col("geometry_json")).as("polys"))
      .filter(col("polys").isNotNull)
    Geometry.withInteriorPoints(parsed, "GEOID", "polys")
  }

  /** Stage e — one (layer, decade) tile build (`build.sh:163-231`):
    * csvcut column slice → `--if-matched` attribute join onto features →
    * tile assignment + density budget + MVT encode. The bubble layer
    * encodes the interior points (`build.sh:121-134`); the choropleth
    * layer encodes the polygon rings themselves
    * (`build.sh:139-160` — requires a `polys` column, see
    * [[geometryFeatures]]).
    *
    * @param features GEOID + lon/lat (bubble center) and, for the
    *                 choropleth layer, the parsed `polys` column
    */
  def decadeTiles(wide: DataFrame, features: DataFrame, inputType: String,
                  decade: String, layer: String, region: String,
                  maxZoomOverride: Option[Int] = None): DataFrame = {
    val vars = layer match {
      case "bubble" => EtlConfig.bubbleVars(inputType)
      case _ => EtlConfig.choroplethVars(inputType)
    }
    val zoom = layer match {
      case "bubble" => EtlConfig.bubbleZoom(region)
      case _ => EtlConfig.choroplethZoom(region)
    }
    val maxZ = maxZoomOverride.getOrElse(zoom.maxZoom)
    val fields = EtlConfig.decadeFields(vars, decade)
      .filter(f => wide.columns.contains(f))
    val slice = Shape.decadeSlice(wide, fields)
    val joined = Joins.attributeJoin(features, slice, "GEOID", ifMatched = true)
      .withColumn("fid", col("GEOID").cast("long")) // P5/T5 numeric feature id
    val attrs = fields.filterNot(_ == "GEOID")
    val name = s"$region-$decade-$layer"
    if (layer == "bubble")
      // `--base-zoom` (`build.sh:121-126`): zooms below the region's base
      // thin at ~2.5×/level — how 217k block-group dots stay readable at
      // z4; the flat density budget only caps the residue
      TileBuild.buildPointTiles(joined, "fid", "lon", "lat", attrs, name,
        zoom.minZoom, maxZ, baseZoom = Some(zoom.baseZoom))
    else {
      require(features.columns.contains("polys"),
        "choropleth layer needs polygon geometry: supply GeoJSON-derived " +
          "features (Pipeline.geometryFeatures), not bare lon/lat points")
      // per-region tippecanoe knobs (`build.sh:148-152`): simplification
      // scale and coalesce-vs-drop over-budget strategy
      val knobs = EtlConfig.choroplethBuild(region)
      TileBuild.buildPolygonTiles(joined, "fid", "polys", attrs, name,
        zoom.minZoom, maxZ,
        simplifyPx = knobs.simplifyPx, coalesce = knobs.coalesce,
        sharedBorders = knobs.sharedBorders)
    }
  }

  /** The decade-independent choropleth GEOMETRY stage
    * (`build.sh:139-160`: one base tileset, split per decade by
    * `tile-join`), shared verbatim by [[runRegion]] and
    * [[Incremental.incrementalRegion]] — byte parity between the two
    * rebuild modes requires one code path. Crucially this runs over
    * the full FEATURE table (before any attribute join): shared-border
    * detection must see every neighbour, including features the
    * current snapshot carries no data for — an attribute-join-first
    * variant would silently unmark their shared edges and simplify
    * borders differently (the IncrementalSpec r15 finding).
    */
  private[graft] def choroTileFeatures(features: DataFrame, region: String,
                                       maxZ: Int): DataFrame = {
    val zoom = EtlConfig.choroplethZoom(region)
    val knobs = EtlConfig.choroplethBuild(region)
    TileBuild.polygonTileFeatures(
      features.withColumn("fid", col("GEOID").cast("long")), "fid", "polys",
      zoom.minZoom, maxZ, simplifyPx = knobs.simplifyPx,
      sharedBorders = knobs.sharedBorders)
  }

  /** J3 layer union-merge (`tile-join`, `build.sh:214`): align the two
    * layers' tiles on (z, x, y) and concatenate their bytes — MVT tiles
    * concatenate at the protobuf level, repeated `layers` fields forming
    * one tile. Shared by both rebuild modes — see [[choroTileFeatures]].
    */
  private[graft] def layerMerge(bubble: DataFrame, choro: DataFrame): DataFrame =
    Joins.layerMerge(
        bubble.select(col("z"), col("x"), col("y"), col("tile_bytes").as("bubble_bytes")),
        choro.select(col("z"), col("x"), col("y"), col("tile_bytes").as("choro_bytes")),
        Seq("z", "x", "y"))
      .select(col("z"), col("x"), col("y"),
        concat(coalesce(col("bubble_bytes"), lit(Array.empty[Byte])),
          coalesce(col("choro_bytes"), lit(Array.empty[Byte]))).as("tile_bytes"))

  /** One decade's choropleth attribute join + encode over a prepared
    * [[choroTileFeatures]] frame (`tile-join --if-matched`,
    * `build.sh:208-211`). Shared by both rebuild modes — see
    * [[choroTileFeatures]].
    */
  private[graft] def choroDecadeEncode(wide: DataFrame, polyFeats: DataFrame,
                                       inputType: String, decade: String,
                                       region: String): DataFrame = {
    val knobs = EtlConfig.choroplethBuild(region)
    val fields = EtlConfig.decadeFields(
      EtlConfig.choroplethVars(inputType), decade)
      .filter(wide.columns.contains)
    val slice = Shape.decadeSlice(wide, fields)
    val attrCols = fields.filterNot(_ == "GEOID")
    val attrPairs = attrCols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    val attrsRaw = slice.select(col("GEOID").cast("long").as("fid"),
      map(attrPairs: _*).as("attrs"))
    // size-gate on the SLICE, not the map projection: MapType's default
    // per-row size estimate (~tens of bytes) hides the real ~payload of
    // a 217k×110-attr map, so Catalyst would auto-broadcast a ~500 MB
    // build and OOM the driver (the PipeScale r15 finding — same class
    // as attributeJoin's gate). Small regions broadcast; national-scale
    // slices pin the shuffle-hash join, which AQE only upgrades back to
    // broadcast from REAL runtime sizes.
    val est = slice.queryExecution.optimizedPlan.stats.sizeInBytes
    val attrs = if (est <= (64L << 20)) broadcast(attrsRaw)
      else attrsRaw.hint("shuffle_hash")
    TileBuild.encodePolygonTiles(polyFeats, attrs,
      s"$region-$decade-choropleth", coalesce = knobs.coalesce)
  }

  /** Full region run (`build.sh:69-233`): returns (wide, extents) and
    * writes tiles per decade under `outDir` when features are given.
    * With GeoJSON-derived features ([[geometryFeatures]]) both layers
    * build; with bare lon/lat points only the bubble layer can.
    *
    * SCAN-ONCE discipline (SURVEY §3.1's "one lazy plan, the only true
    * barriers being the pivot shuffle and the tile groupBy shuffle"):
    * when the run itself triggers more than one action over the wide
    * frame — tiles for each decade, the stage-b/c CSV artifacts — the
    * pivot output is persisted for the duration, so the long CSV is
    * scanned exactly ONCE per region run and every downstream stage
    * reads the cached wide rows (PipelineSpec pins this with a
    * QueryExecutionListener over the composed run). The reference gets
    * the same effect by materializing `data.wide.csv` between
    * processes (`build.sh:80-81`); here it is one in-memory artifact
    * with spill. Pure (wide, extents) callers stay fully lazy.
    *
    * @param extendBudget densest-tile feature budget driving the
    *                     `--extend-zooms-if-still-dropping` decision for
    *                     both layers (tippecanoe's default tile budget;
    *                     a test seam for forcing extension on small
    *                     fixtures)
    * @param wideOut    stage-b artifact (`data.wide.csv` /
    *                   `build/$REGION.csv`, `build.sh:81`): header CSV
    *                   directory, written distributed (the reference's
    *                   one-file-per-region is its 4 GB-heap limitation,
    *                   not a format requirement)
    * @param extentsOut stage-c artifact (`data.extents.csv`,
    *                   `build.sh:84-88`): single-file header CSV — the
    *                   frame is ~|metrics×years| rows, never large
    */
  def runRegion(spark: SparkSession, longCsvPath: String, inputType: String,
                metricLongNames: Seq[String], region: String,
                features: Option[DataFrame] = None,
                outDir: Option[String] = None,
                extendBudget: Int = 10000,
                wideOut: Option[String] = None,
                extentsOut: Option[String] = None,
                mbtiles: Boolean = false): (DataFrame, DataFrame) = {
    val long = Sources.readCsv(spark, longCsvPath,
      Sources.longSchema(metricLongNames))
    val multiAction = (features.isDefined && outDir.isDefined) ||
      wideOut.isDefined || extentsOut.isDefined
    val wide = {
      val w = shape(long, inputType)
      if (multiAction)
        w.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else w
    }
    wideOut.foreach(p => Sources.writeCsv(wide, p))
    val ext = extents(wide)
    extentsOut.foreach(p => Sources.writeCsv(ext, p, singleFile = true))
    for (f <- features; out <- outDir) {
      val hasPolys = f.columns.contains("polys")
      // base choropleth GEOMETRY is decade-independent — built ONCE and
      // persisted, exactly the reference's base-tileset + per-decade
      // `tile-join` split (`build.sh:139-160` once, `:208-211` per
      // decade); only the attribute join + encode re-run per decade
      val zoom = EtlConfig.choroplethZoom(region)
      val knobs = EtlConfig.choroplethBuild(region)
      // `--extend-zooms-if-still-dropping` applies to the CHOROPLETH too
      // (`build.sh:148-152`) — but only the drop-densest strategy ever
      // drops (cities); coalesce regions merge instead of dropping, so
      // extension is a no-op there and is skipped. Density is measured
      // on the decade-independent interior points (one per polygon —
      // the same features that overflow a tile's feature budget).
      val choroMaxZ = if (zoom.extend && !knobs.coalesce)
        Tiling.extendMaxZoom(f, "lon", "lat",
          zoom.maxZoom, zoom.maxZoom + 2, budget = extendBudget)
      else zoom.maxZoom
      val polyFeats = if (hasPolys)
        Some(choroTileFeatures(f, region, choroMaxZ).persist())
      else None
      // tileset bounds/center (decade-independent, one small aggregate):
      // tile-join's metadata.json carries them (`build.sh:220,226`) —
      // polygon regions use the true geometry bbox, point regions the
      // bubble centers
      val bounds: Option[(Double, Double, Double, Double)] = {
        val r = (if (hasPolys) {
          val bb = Geometry.bboxColumns(col("polys"))
          f.select(min(bb(0)._2), min(bb(2)._2), max(bb(1)._2), max(bb(3)._2))
        } else f.select(min(col("lon")), min(col("lat")),
          max(col("lon")), max(col("lat")))).head()
        // zero features ⇒ the min/max aggregate returns one all-null row;
        // skip the bounds/center metadata keys rather than NPE on getDouble
        if (r.isNullAt(0)) None
        else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      }
      // `--extend-zooms-if-still-dropping`: decided ONCE per region from
      // the geometry (decade-independent), then reused by every decade
      val bz = EtlConfig.bubbleZoom(region)
      val bubbleMaxZ = if (bz.extend)
        Some(Tiling.extendMaxZoom(f, "lon", "lat",
          bz.maxZoom, bz.maxZoom + 2, budget = extendBudget))
      else None
      for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
        val bubble = decadeTiles(wide, f, inputType, decade, "bubble", region,
          maxZoomOverride = bubbleMaxZ)
        val choro = polyFeats match {
          case Some(tf) =>
            choroDecadeEncode(wide, tf, inputType, decade, region)
          case None => bubble.limit(0)
        }
        val merged = layerMerge(bubble, choro)
        val maxZoomOut = math.max(bubbleMaxZ.getOrElse(bz.maxZoom), choroMaxZ)
        val meta = Map("name" -> s"$region-$decade",
          "type" -> "overlay",
          "minzoom" -> math.min(bz.minZoom, zoom.minZoom).toString,
          "maxzoom" -> maxZoomOut.toString,
          "layers" -> (s"$region-$decade-bubble" +
            (if (hasPolys) s",$region-$decade-choropleth" else ""))) ++
          bounds.map { case (x0, y0, x1, y1) =>
            Map("bounds" -> s"$x0,$y0,$x1,$y1",
              "center" -> s"${(x0 + x1) / 2},${(y0 + y1) / 2},$maxZoomOut")
          }.getOrElse(Map.empty)
        // the mbtiles sink re-reads the merged tiles (the container is
        // a second consumer): persist for the duration so the decade
        // build runs once, not per sink
        val out2 = if (mbtiles)
          merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else merged
        TileBuild.writePbfDirectory(out2, s"$out/$region/$decade", meta)
        if (mbtiles) {
          graft.sinks.Mbtiles.writeMbtiles(out2,
            s"$out/$region/$decade.mbtiles", meta + ("format" -> "pbf"))
          out2.unpersist()
        }
      }
      polyFeats.foreach(_.unpersist())
    }
    // release the scan-once cache; the returned frames stay valid and
    // simply recompute lazily if the caller evaluates them later
    if (multiAction) wide.unpersist()
    (wide, ext)
  }
}

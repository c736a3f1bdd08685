package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EtlConfig
import graft.operators.{Geometry, TextStats, Tiling}
import graft.sinks.TileBuild
import graft.sources.Sources

/** Incremental region rebuild — the deployment story the reference's
  * `rm -rf _proc` (`build.sh:67`) forecloses: it rebuilds every tile
  * of every region on every run, even when tonight's data changed a
  * handful of GEOIDs. The engine already had both halves — the
  * snapshot-diff readout (q135) and the composed pipeline
  * ([[Pipeline.runRegion]]); this wires them: diff the long snapshots
  * per GEOID, re-shape and re-tile ONLY the tiles those GEOIDs touch,
  * and carry every untouched tile over from the previous output
  * byte-for-byte. IncrementalSpec proves hash parity with a full
  * rebuild on a mutated fixture; at a 1% change rate the rebuild work
  * is proportional to the change, not the corpus.
  *
  * Scale shape:
  *  - the diff is q135's: per-GEOID order-free fingerprints (q145's
  *    commutative Σhash), one full-outer equi-join — only (id, 16-byte
  *    decimal) rows shuffle, never the long rows;
  *  - the geoid→tile fan reuses the EXACT production assignment
  *    (bubble point fan with base-zoom thinning keyed like
  *    buildPointTiles; choropleth bbox cover) so "affected" is what
  *    the encoder would actually touch, plus bbox false positives that
  *    only widen the rebuild;
  *  - contributors = renderers of affected tiles PLUS their exact
  *    edge-neighbours (features sharing a canonical ring segment,
  *    [[Geometry.ringSegments]] keys): the renderers are what an
  *    affected tile encodes, and their shared-border arc splits
  *    ([[Geometry.withSharedSegments]]) are a function of their
  *    neighbour set — the neighbours pin the junctions without
  *    rendering anywhere new. An earlier tile-hop expansion
  *    (features of the renderers' tiles) was transitively flooded by
  *    coarse-zoom tiles — one changed cell's z8 tile pulled ~300
  *    renderers whose own z8 tiles pulled the continent (measured:
  *    215k of 217k cells "contributing" to a 217-cell delta);
  *  - the pivot runs over the contributor subset only; unchanged
  *    tiles never re-encode, their bytes stream from the previous
  *    tree ([[readPbfTree]], a splittable binaryFile scan).
  *
  * Geometry changes are out of scope by design: the census shape
  * tables the reference tiles change once a decade — a geometry delta
  * is the full-rebuild case, and [[incrementalRegion]]'s fraction
  * gate already routes mass change there. A tree deepened by
  * `--extend-zooms-if-still-dropping` (a previous run that extended
  * past the region's configured maxZoom) is likewise out of the fan's
  * reach — [[incrementalRegion]] DETECTS it from the tree's own
  * deepest z directory ([[treeMaxZoom]]) and routes to the full
  * rebuild rather than silently stranding stale deep tiles; the
  * national block-groups case this is built for does not extend (the
  * density budget holds at z10).
  */
object Incremental {

  final case class Stats(changed: Long, added: Long, removed: Long,
                         affectedTiles: Long, contributors: Long,
                         fullRebuild: Boolean)

  /** Deepest z directory present in a previous tile tree (−1 when the
    * tree is absent) — a driver-side depth-2 listing
    * (region/decade/z), cheap at any tileset size and scheme-agnostic
    * (Hadoop FS — r17: the whole nightly loop runs against whatever
    * filesystem the tree lives on). The incremental path refuses trees
    * deeper than the configured fan: they were written with an
    * extend-zooms override it cannot reproduce.
    */
  private[graft] def treeMaxZoom(fs: org.apache.hadoop.fs.FileSystem,
                                 regionDir: org.apache.hadoop.fs.Path): Int = {
    if (!fs.exists(regionDir)) return -1
    val decades = fs.listStatus(regionDir).filter(_.isDirectory)
    val zs = decades.flatMap(d => fs.listStatus(d.getPath))
      .filter(s => s.isDirectory && s.getPath.getName.nonEmpty &&
        s.getPath.getName.forall(_.isDigit))
      .map(_.getPath.getName.toInt)
    if (zs.isEmpty) -1 else zs.max
  }

  /** q135's diff keyed for the pipeline: per-GEOID fingerprint = the
    * order-free commutative sum of row hashes (q145's primitive — CSV
    * part split may order a GEOID's year rows differently between
    * snapshots), full-outer join, non-`unchanged` rows out.
    * Null cells are sentinel-coalesced so (a, null) and (null, a)
    * fingerprint differently.
    */
  def geoidDiff(oldLong: DataFrame, newLong: DataFrame): DataFrame =
    diffFingerprints(fingerprints(oldLong), fingerprints(newLong))

  /** Per-GEOID fingerprint frame (GEOID, fp) of a long table — the
    * PERSISTABLE diff artifact: [[incrementalRegion]] stores this
    * (|geoids| rows) next to each tile tree, and the next delta diffs
    * against the stored frame instead of re-hashing the previous
    * corpus — at 100 TB the old-side scan is most of the diff's cost.
    */
  def fingerprints(long: DataFrame): DataFrame = {
    val cols = long.columns.filterNot(_ == "id")
      .map(c => coalesce(col(c), lit("\u0000")).as(c))
    long.select(col("id") +: cols.toSeq: _*)
      .groupBy(col("id"))
      .agg(sum(xxhash64(long.columns.map(col).toSeq: _*)
        .cast("decimal(38,0)")).as("fp"))
      .withColumnRenamed("id", "GEOID")
  }

  /** Classify two fingerprint frames; non-`unchanged` rows out. */
  def diffFingerprints(oldFp: DataFrame, newFp: DataFrame): DataFrame =
    oldFp.withColumnRenamed("fp", "fpo")
      .join(newFp.withColumnRenamed("fp", "fpn"), Seq("GEOID"), "full_outer")
      .select(col("GEOID"),
        when(col("fpo").isNull, "added")
          .when(col("fpn").isNull, "removed")
          .when(col("fpo") =!= col("fpn"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")

  /** The (GEOID, z, x, y) fan of the current feature table — exactly
    * the tiles the two encoders would place each feature in. Bubble:
    * point assignment with the SAME base-zoom thinning key the
    * encoder uses (hash of the long-cast fid's string form, see
    * [[TileBuild.buildPointTiles]]). Choropleth: the bbox cover —
    * the encoder's candidate superset (its clip-stage drops only
    * shrink a tile's feature set; a bbox false positive here marks a
    * tile affected that then rebuilds to its previous bytes).
    */
  def featureTileFan(features: DataFrame, region: String): DataFrame = {
    val bz = EtlConfig.bubbleZoom(region)
    val cz = EtlConfig.choroplethZoom(region)
    val pts = features.select(col("GEOID"), col("lon"), col("lat"))
    val fanned = Tiling.assignTiles(pts, "lon", "lat", bz.minZoom, bz.maxZoom)
    val bubbleFan = (if (bz.baseZoom > bz.minZoom)
      fanned.filter(Tiling.baseZoomKeep(
        TextStats.hash60(col("GEOID").cast("long").cast("string")),
        col("z"), bz.minZoom, bz.baseZoom))
    else fanned)
      .select(col("GEOID"), col("z").cast("int").as("z"), col("x"), col("y"))
    val choroFan = if (features.columns.contains("polys")) {
      val withBbox = Geometry.bboxColumns(col("polys"))
        .foldLeft(features.select(col("GEOID"), col("polys"))) {
          case (df, (n, c)) => df.withColumn(n, c)
        }.drop("polys")
      Geometry.coverTiles(withBbox, cz.minZoom, cz.maxZoom)
        .select(col("GEOID"), col("z").cast("int").as("z"), col("x"), col("y"))
    } else bubbleFan.limit(0)
    bubbleFan.unionByName(choroFan).distinct()
  }

  /** Read a written pbf tree back as (z, x, y, tile_bytes) — the
    * carry-over side of the incremental union. binaryFile splits by
    * file, so the scan parallelizes over the tile tree.
    */
  def readPbfTree(spark: SparkSession, dir: String): DataFrame = {
    val re = "/(\\d+)/(\\d+)/(\\d+)\\.pbf$"
    spark.read.format("binaryFile").option("pathGlobFilter", "*.pbf")
      .option("recursiveFileLookup", "true").load(dir)
      .select(
        regexp_extract(col("path"), re, 1).cast("int").as("z"),
        regexp_extract(col("path"), re, 2).cast("long").as("x"),
        regexp_extract(col("path"), re, 3).cast("long").as("y"),
        col("content").as("tile_bytes"))
  }

  /** Rebuild only what changed between `oldCsvPath` and `newCsvPath`,
    * carrying unchanged tiles from `prevDir` (a prior
    * [[Pipeline.runRegion]] output) into `outDir`. Passing
    * `outDir == prevDir` switches to IN-PLACE mode: the live tree is
    * updated — affected tile files deleted then rewritten — and no
    * unchanged byte is read or written, so the IO cost is proportional
    * to the delta, not the tileset (the deployment mode PipeScale
    * measures). Falls back to the full pipeline when the changed-GEOID
    * fraction exceeds `maxChangedFraction` — mass change means the
    * incremental machinery costs more than it saves, and q135's
    * fraction readout is exactly the signal.
    */
  def incrementalRegion(spark: SparkSession, oldCsvPath: String,
                        newCsvPath: String, inputType: String,
                        metricLongNames: Seq[String], region: String,
                        features: DataFrame, prevDir: String, outDir: String,
                        maxChangedFraction: Double = 0.3): Stats = {
    val schema = Sources.longSchema(metricLongNames)
    val oldLong = Sources.readCsv(spark, oldCsvPath, schema)
    val newLong = Sources.readCsv(spark, newCsvPath, schema)
    // diff against the PREVIOUS run's stored fingerprint artifact when
    // it exists — the old corpus never re-scans (at 100 TB that scan
    // is most of the diff's cost); cold path hashes the old CSV once
    // one driver-side FileSystem per tree end (scheme-agnostic — the
    // bookkeeping below lists/deletes/copies through the Hadoop FS API)
    val hconf = spark.sessionState.newHadoopConf()
    val prevFs = new org.apache.hadoop.fs.Path(prevDir).getFileSystem(hconf)
    // the OUT end mutates the checksum flag below, so it gets a PRIVATE
    // instance (closed in the finally below) — flipping the flag on the
    // JVM-cached FileSystem would silently disable .crc sidecars for
    // every other writer of the scheme in the process (r17 ADVICE)
    val outFs = org.apache.hadoop.fs.FileSystem.newInstance(
      new org.apache.hadoop.fs.Path(outDir).toUri, hconf)
    // no .crc sidecars in the live tree (same contract as the sink)
    outFs.setWriteChecksum(false)
    // close outFs on EVERY exit path — an exception anywhere below
    // (runRegion, writePbfDirectory, the FS bookkeeping itself) must
    // not leak the private instance in a long-lived session (r18 ADVICE)
    try {
      val fpPath = new org.apache.hadoop.fs.Path(
        s"$prevDir/$region/fingerprints.parquet")
      val fs = prevFs
      val oldFps = if (fs.exists(fpPath)) spark.read.parquet(fpPath.toString)
        else fingerprints(oldLong)
      val newFps = fingerprints(newLong)
      // localCheckpoint, not persist: the new fingerprints OVERWRITE the
      // stored artifact below (in-place mode shares the dir), and a
      // cache-evicted lineage replay would re-read the overwritten file
      val diff = diffFingerprints(oldFps, newFps).localCheckpoint(eager = true)
      val byStatus = diff.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val (nChanged, nAdded, nRemoved) = (byStatus.getOrElse("changed", 0L),
        byStatus.getOrElse("added", 0L), byStatus.getOrElse("removed", 0L))
      val nTotal = newLong.select("id").distinct().count()
      // a previous run that EXTENDED past the configured fan maxZoom
      // (`--extend-zooms-if-still-dropping` on dense point regions)
      // wrote deeper tiles than [[featureTileFan]] covers: affected deep
      // tiles would be neither rebuilt nor deleted — a silently
      // corrupted tree. Detect the condition from the tree's own
      // deepest z directory and route to the full rebuild instead.
      val fanMaxZ = {
        val bz = EtlConfig.bubbleZoom(region).maxZoom
        if (features.columns.contains("polys"))
          math.max(bz, EtlConfig.choroplethZoom(region).maxZoom)
        else bz
      }
      val treeDeeperThanFan =
        treeMaxZoom(prevFs, new org.apache.hadoop.fs.Path(
          s"$prevDir/$region")) > fanMaxZ
      // the NEW fingerprints persist for the next delta at the END of
      // each path (after the fallback's tree wipe, after the in-place
      // updates) — newFps derives from the new CSV, so writing it late
      // is always safe, and diff is already checkpoint-materialized
      def persistFingerprints(): Unit = newFps.write.mode("overwrite")
        .parquet(s"$outDir/$region/fingerprints.parquet")
      if (nTotal == 0 || treeDeeperThanFan ||
          (nChanged + nAdded + nRemoved).toDouble / nTotal > maxChangedFraction) {
        diff.unpersist()
        // full rebuild into a dir that may hold the previous tree: clear
        // the region subtree first (the reference's own `rm -rf _proc`
        // semantics) — an overwrite-only rebuild would leave STALE tile
        // files for (z,x,y)s the new data no longer produces
        val regionDir = new org.apache.hadoop.fs.Path(s"$outDir/$region")
        if (outFs.exists(regionDir)) outFs.delete(regionDir, true)
        Pipeline.runRegion(spark, newCsvPath, inputType, metricLongNames,
          region, features = Some(features), outDir = Some(outDir))
        persistFingerprints()
        return Stats(nChanged, nAdded, nRemoved, -1L, -1L, fullRebuild = true)
      }

      val fan = featureTileFan(features, region)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val touched = diff.select(col("GEOID"))
      val affectedTiles = fan.join(touched, Seq("GEOID"), "left_semi")
        .select("z", "x", "y").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // renderers of affected tiles + their exact edge-neighbours
      // (shared-border junction stability — see object scaladoc)
      val renderers = fan.join(affectedTiles, Seq("z", "x", "y"), "left_semi")
        .select("GEOID").distinct()
      val contributors = (if (features.columns.contains("polys")) {
        val segs = features.select(col("GEOID"),
          explode(Geometry.ringSegments(col("polys"))).as("seg"))
        val rendererSegs = segs.join(renderers, Seq("GEOID"), "left_semi")
          .select("seg").distinct()
        val nbrs = segs.join(rendererSegs, Seq("seg"), "left_semi")
          .select("GEOID")
        renderers.unionByName(nbrs).distinct()
      } else renderers)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nAffected = affectedTiles.count()
      val nContrib = contributors.count()
      // in-place = outDir IS the previous tree: update it instead of
      // copying ~every unchanged tile into a second tree — the live
      // deployment mode (writePbfDirectory truncate-overwrites per file,
      // so a crash mid-update re-runs idempotently)
      val outQ = outFs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
      val prevQ = prevFs.makeQualified(new org.apache.hadoop.fs.Path(prevDir))
      // qualified-URI equality first (scheme-agnostic), then — for local
      // paths only — java.io canonical-path equality, so a symlink- or
      // `..`-aliased prevDir/outDir pair is still recognized as the SAME
      // tree (r17 ADVICE: the copy-mode path would lazily read carried
      // tiles from the very files it truncate-overwrites)
      val inPlace = outQ == prevQ || (
        outQ.toUri.getScheme == "file" && prevQ.toUri.getScheme == "file" &&
          new java.io.File(outQ.toUri.getPath).getCanonicalPath ==
            new java.io.File(prevQ.toUri.getPath).getCanonicalPath)
      // driver-side collect is SIZED BY CONTRACT, not by the tileset:
      // |affectedRows| = delta GEOIDs × per-feature tile fan-out, and
      // the delta path only runs when the changed fraction is under
      // maxChangedFraction — a full-churn "delta" routed to the full
      // rebuild above before reaching here. ~24 B/row at nightly delta
      // sizes (thousands of GEOIDs × tens of tiles) is driver-trivial.
      val affectedRows: Array[org.apache.spark.sql.Row] =
        if (inPlace) affectedTiles.collect() else Array.empty

      val featC = features.join(contributors, Seq("GEOID"), "left_semi")
      val longC = newLong.join(contributors.withColumnRenamed("GEOID", "id"),
        Seq("id"), "left_semi")
      val wideC = Pipeline.shape(longC, inputType)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // IDENTICAL code path to runRegion's choropleth stage (shared
      // helpers — see Pipeline.choroTileFeatures): in particular the
      // geometry stage runs over featC BEFORE any attribute join, so a
      // data-less neighbour (e.g. a removed GEOID) still contributes its
      // shared edges and border simplification reproduces byte-for-byte
      val choroMaxZ = EtlConfig.choroplethZoom(region).maxZoom
      val polyFeats = if (featC.columns.contains("polys"))
        Some(Pipeline.choroTileFeatures(featC, region, choroMaxZ)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
      for (decade <- EtlConfig.decades.keys.toSeq.sorted) {
        val bubble = Pipeline.decadeTiles(wideC, featC, inputType, decade,
          "bubble", region)
        val choro = polyFeats match {
          case Some(tf) =>
            Pipeline.choroDecadeEncode(wideC, tf, inputType, decade, region)
          case None => bubble.limit(0)
        }
        val rebuilt = Pipeline.layerMerge(bubble, choro)
          .join(affectedTiles, Seq("z", "x", "y"), "left_semi")
        if (inPlace) {
          // live-tree update: unchanged tiles already sit in outDir, so
          // only the affected files are touched — delete them first (a
          // rebuilt tile that came out empty must VANISH, e.g. a removed
          // GEOID's deep tile), then write the rebuilt set. The delete
          // list is the small affected frame, not the tree.
          for (r <- affectedRows)
            outFs.delete(new org.apache.hadoop.fs.Path(
              s"$outDir/$region/$decade/${r.getAs[Int]("z")}/" +
                s"${r.getAs[Long]("x")}/${r.getAs[Long]("y")}.pbf"), false)
          TileBuild.writePbfDirectory(rebuilt, s"$outDir/$region/$decade",
            writeMetadata = false) // the live metadata.json stays as-is
        } else {
          val carried = readPbfTree(spark, s"$prevDir/$region/$decade")
            .join(affectedTiles, Seq("z", "x", "y"), "left_anti")
          TileBuild.writePbfDirectory(rebuilt.unionByName(carried),
            s"$outDir/$region/$decade")
          // metadata is decade-level and attribute-independent: carry it over
          val src = new org.apache.hadoop.fs.Path(
            s"$prevDir/$region/$decade/metadata.json")
          if (prevFs.exists(src)) {
            val in = prevFs.open(src)
            val bytes = try {
              val b = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, b, 65536, false)
              b.toByteArray
            } finally in.close()
            val dst = outFs.create(new org.apache.hadoop.fs.Path(
              s"$outDir/$region/$decade/metadata.json"), true)
            try dst.write(bytes) finally dst.close()
          }
        }
      }
      persistFingerprints()
      polyFeats.foreach(_.unpersist())
      wideC.unpersist(); contributors.unpersist(); affectedTiles.unpersist()
      fan.unpersist(); diff.unpersist()
      Stats(nChanged, nAdded, nRemoved, nAffected, nContrib, fullRebuild = false)
    } finally outFs.close()
  }
}

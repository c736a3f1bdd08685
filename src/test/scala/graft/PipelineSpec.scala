package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-shaped end-to-end fixture test (FIXTURES.md §A, SURVEY.md §5
  * item 4): a tiny long CSV with every edge case runs through
  * shape → extents → decade tiles, outputs checked against hand-computed
  * goldens replicating shape-data.js / extract-extents.js semantics.
  */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  /** A1-style fixture: dup (id,year) rows, missing parent_location,
    * empty metric cells, an unmapped column, non-numeric junk, leading
    * zeros.
    */
  private lazy val fixtureCsv: String = {
    val dir = Files.createTempDirectory("fixture").toString
    val csv =
      """id,year,name,parent_location,population,judgements,judgement_rate,low_flag,junk_col
        |01001,2000,Autauga,Alabama,43671,23,1.2,0,IGNORED
        |01001,2000,Autauga,Alabama,43671,24,1.3,0,IGNORED
        |01001,2001,Autauga,Alabama,44021,25,1.4,0,x
        |02013,2000,Aleutians,,2697,,not-a-number,1,y
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(dir, "data.csv"), csv.getBytes("UTF-8"))
    s"$dir/data.csv"
  }

  private val metricLongNames = Seq("population", "judgements",
    "judgement_rate", "low_flag", "junk_col")

  test("shape: A2 semantics — rename, last-wins, pl default, sort, zeros") {
    val (wide, _) = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    val rows = wide.collect()
    // sorted by GEOID ascending, leading zeros intact
    assert(rows.map(_.getAs[String]("GEOID")).toSeq == Seq("01001", "02013"))
    val r1 = rows(0); val r2 = rows(1)
    // duplicate (01001, 2000): last row wins -> judgements 24, rate 1.3
    assert(r1.getAs[String]("e-00") == "24")
    assert(r1.getAs[String]("er-00") == "1.3")
    // non-duplicated year cell
    assert(r1.getAs[String]("e-01") == "25")
    // missing parent_location defaults
    assert(r2.getAs[String]("pl") == "United States")
    assert(r1.getAs[String]("pl") == "Alabama")
    // empty metric cell is null, junk passes through as string cell
    assert(r2.isNullAt(r2.fieldIndex("e-00")))
    assert(r2.getAs[String]("er-00") == "not-a-number")
    // unmapped column dropped entirely
    assert(!wide.columns.exists(_.contains("junk")))
    // year columns beyond the data exist but are null (declared schema)
    assert(wide.columns.contains("e-18"))
    assert(r1.isNullAt(r1.fieldIndex("e-18")))
  }

  test("extents: A3 semantics — numeric coercion, junk/empty dropped") {
    val (_, ext) = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    val byId = ext.collect().map(r => r.getAs[String]("id") -> r).toMap
    // er-00: values ("1.3" [last-wins], "not-a-number") -> only 1.3 numeric
    val er = byId("er-00")
    assert(er.getAs[Double]("vmin") == 1.3 && er.getAs[Double]("vmax") == 1.3)
    // e-00: 24 (last-wins) and null -> single value 24
    assert(byId("e-00").getAs[Double]("vmin") == 24.0)
    // p-00 spans both geoids
    assert(byId("p-00").getAs[Double]("vmin") == 2697.0)
    assert(byId("p-00").getAs[Double]("vmax") == 43671.0)
    // id columns never appear
    assert(!byId.keySet.exists(k => k == "GEOID" || k == "n" || k == "pl"))
  }

  /** Source-geometry fixture (`build.sh:111`): a FeatureCollection with
    * a concave (L-shaped) polygon for 01001 and a MultiPolygon for
    * 02013 — the real entry point of the reference's geometry pipeline.
    */
  private lazy val fixtureGeoJson: String = {
    val dir = Files.createTempDirectory("geo").toString
    val gj =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"GEOID":"01001"},"geometry":
        | {"type":"Polygon","coordinates":[[[-86.8,32.3],[-86.4,32.3],
        |  [-86.4,32.45],[-86.7,32.45],[-86.7,32.7],[-86.8,32.7],[-86.8,32.3]]]}},
        |{"type":"Feature","properties":{"GEOID":"02013"},"geometry":
        | {"type":"MultiPolygon","coordinates":[
        |  [[[-151.6,54.4],[-151.4,54.4],[-151.4,54.6],[-151.6,54.6],[-151.6,54.4]]],
        |  [[[-151.9,54.4],[-151.8,54.4],[-151.8,54.5],[-151.9,54.5],[-151.9,54.4]]]]}}
        |]}""".stripMargin
    val p = java.nio.file.Paths.get(dir, "source.geojson")
    Files.write(p, gj.getBytes("UTF-8"))
    p.toString
  }

  test("geometryFeatures: interior points land inside their polygons") {
    val geo = graft.sources.Sources.readGeoJson(spark, fixtureGeoJson)
    val feats = Pipeline.geometryFeatures(geo).collect()
      .map(r => r.getAs[String]("GEOID") -> r).toMap
    assert(feats.keySet == Set("01001", "02013"))
    // 01001 is L-shaped (concave): the interior point must be INSIDE the
    // L, which its centroid is not guaranteed to be
    val r1 = feats("01001")
    val lRing = Seq((-86.8, 32.3), (-86.4, 32.3), (-86.4, 32.45),
      (-86.7, 32.45), (-86.7, 32.7), (-86.8, 32.7))
    assert(graft.operators.Tiling.signedDist(
      r1.getAs[Double]("lon"), r1.getAs[Double]("lat"), lRing) > 0)
    // 02013: largest part (the first, 0.2x0.2 square) anchors the point
    val r2 = feats("02013")
    assert(r2.getAs[Double]("lon") > -151.6 && r2.getAs[Double]("lon") < -151.4)
    assert(r2.getAs[Double]("lat") > 54.4 && r2.getAs[Double]("lat") < 54.6)
  }

  test("runRegion with GeoJSON features writes merged bubble+choropleth pbf trees") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    val out = Files.createTempDirectory("tiles").toString
    Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames,
      "counties", features = Some(features), outDir = Some(out))
    for (decade <- Seq("00", "10")) {
      val dir = new java.io.File(s"$out/counties/$decade")
      assert(dir.exists, s"missing $dir")
      assert(new java.io.File(dir, "metadata.json").exists)
      val pbfs = java.nio.file.Files.walk(dir.toPath)
        .filter(_.toString.endsWith(".pbf")).count()
      assert(pbfs > 0)
    }
    // merged tile bytes contain BOTH layer names (J3 protobuf-level merge)
    val z0 = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/counties/00"))
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(z0)
    val s0 = new String(bytes.map(b => (b & 0xff).toChar))
    assert(s0.contains("counties-00-bubble") && s0.contains("counties-00-choropleth"))
    // tile-join metadata fidelity: bounds = the fixture's geometry bbox,
    // center = its midpoint (lon,lat,maxzoom), type present
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/counties/00/metadata.json")), "UTF-8")
    assert(meta.contains(""""bounds": "-151.9,32.3,-86.4,54.6""""), meta)
    assert(meta.contains(""""center": "-119.15"""), meta)
    assert(meta.contains(""""type": "overlay""""), meta)
  }

  test("bubble-only runRegion: point features write a bubble tree with point bounds") {
    import spark.implicits._
    val features = Seq(("01001", -86.6, 32.5), ("02013", -151.5, 54.5))
      .toDF("GEOID", "lon", "lat")
    val out = Files.createTempDirectory("bubble-only").toString
    Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames,
      "counties", features = Some(features), outDir = Some(out))
    val dir = new java.io.File(s"$out/counties/00")
    assert(dir.exists)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/counties/00/metadata.json")), "UTF-8")
    // bounds from the bubble centers; no choropleth layer advertised
    assert(meta.contains(""""bounds": "-151.5,32.5,-86.6,54.5""""), meta)
    assert(meta.contains(""""layers": "counties-00-bubble""""), meta)
    val pbf = java.nio.file.Files.walk(dir.toPath)
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val s0 = new String(java.nio.file.Files.readAllBytes(pbf)
      .map(b => (b & 0xff).toChar))
    assert(s0.contains("counties-00-bubble") && !s0.contains("choropleth"))
  }

  test("extend-zooms: drop-strategy choropleth deepens; coalesce regions don't") {
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    // extendBudget 0: no tile can satisfy the budget, so every layer
    // entitled to extend runs to its hard cap — the wiring seam
    def run(region: String): (String, java.io.File) = {
      val out = Files.createTempDirectory("xt").toString
      Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames, region,
        features = Some(features), outDir = Some(out), extendBudget = 0)
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/$region/00/metadata.json")), "UTF-8")
      val mz = "\"maxzoom\": \"(\\d+)\"".r.findFirstMatchIn(meta).get.group(1)
      (mz, new java.io.File(s"$out/$region/00"))
    }
    // cities choropleth uses drop-densest (`build.sh:150`) -> extends 9->11
    val (cityMz, cityDir) = run("cities")
    assert(cityMz == "11", s"cities must extend to 11, got $cityMz")
    val z11 = new java.io.File(cityDir, "11")
    assert(z11.exists, "cities choropleth must build z11 tiles")
    val pbf = java.nio.file.Files.walk(z11.toPath)
      .filter(_.toString.endsWith(".pbf")).findFirst().get()
    val bytes = java.nio.file.Files.readAllBytes(pbf)
    assert(new String(bytes.map(b => (b & 0xff).toChar))
      .contains("cities-00-choropleth"),
      "z11 tiles must carry the deepened choropleth layer")
    // counties choropleth coalesces (never drops -> extension is moot)
    // and its bubble carries no extend flag: maxzoom stays 7
    val (countyMz, _) = run("counties")
    assert(countyMz == "7", s"counties must not extend, got $countyMz")
  }

  test("decade tiles: slice + if-matched join + polygon MVT build end-to-end") {
    val (wide, _) = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    // 01001/02013 match the wide table; an unmatched feature would be
    // dropped by the if-matched join (geometry fixture has no 99999)
    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
    val tiles = Pipeline.decadeTiles(wide, features, "raw", "00",
      "choropleth", "counties")
    val rows = tiles.collect()
    assert(rows.nonEmpty)
    // both polygons stay within one tile per zoom: counties choropleth
    // z1..7 — except z1, where the 0.4° fixture squares are ~9 px and
    // collapse under the counties simplification scale (10 px,
    // EtlConfig.choroplethBuild) — the tippecanoe-style fate of
    // sub-pixel polygons at low zoom
    assert(rows.map(_.getAs[Int]("z")).distinct.sorted.toSeq == (2 to 7).toSeq)
    assert(rows.forall(r => r.getAs[Int]("n_features") >= 1 &&
      r.getAs[Int]("n_features") <= 2))
    assert(rows.forall(_.getAs[Array[Byte]]("tile_bytes").length > 10))
    // polygon features encode as geomType 3 (field 3 varint = 3) —
    // check the wire bytes carry a polygon, not a point
    val bytes = rows.head.getAs[Array[Byte]]("tile_bytes")
    assert(bytes.sliding(2).exists(w => (w(0) & 0xff) == 0x18 && w(1) == 3))
  }

  test("readGeoJsonLines: the splittable S5 reader matches the FeatureCollection scan") {
    // same two features, one JSON object per line (the tippecanoe-json-tool
    // stream shape) — the 100 TB geometry path must parse identically
    val dir = Files.createTempDirectory("geolines").toString
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtureGeoJson)), "UTF-8").replaceAll("\n", "")
    // slice the fixture's two features out of the collection document
    val body = doc.substring(doc.indexOf("[") + 1, doc.lastIndexOf("]"))
    val lines = body.split("""(?<=\}\}),""").mkString("\n")
    val p = java.nio.file.Paths.get(dir, "features.jsonl")
    java.nio.file.Files.write(p, lines.getBytes("UTF-8"))
    val viaLines = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJsonLines(spark, p.toString))
      .orderBy("GEOID").collect()
    val viaDoc = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson))
      .orderBy("GEOID").collect()
    assert(viaLines.map(_.toSeq).toSeq == viaDoc.map(_.toSeq).toSeq)
  }

  test("shape pivot plan: one CSV scan; pivot hash + presentation sort only exchanges") {
    val long = graft.sources.Sources.readCsv(spark, fixtureCsv,
      graft.sources.Sources.longSchema(metricLongNames))
    val qe = Pipeline.shape(long, "raw").queryExecution
    val p = qe.executedPlan.toString
    assert("FileScan csv".r.findAllIn(p).size == 1,
      "the long CSV must be read exactly once by the pivot plan")
    val ex = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(ex.size == 2, s"pivot must shuffle exactly twice:\n${ex.mkString("\n")}")
    assert(ex.exists(_.contains("hashpartitioning(GEOID")),
      "the pivot aggregation exchange must key on GEOID")
    assert(ex.exists(_.contains("rangepartitioning")),
      "the GEOID presentation sort is the only other exchange")
    assert(p.contains("partial_max_by"), "pivot must partial-aggregate map-side")
    // one row-struct max_by per year plus the carries, not one per cell
    val aggs = qe.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    val bound = graft.config.EtlConfig.allYears.size +
      graft.config.EtlConfig.idColumns.count(_ != "GEOID")
    assert(aggs.nonEmpty && aggs.forall(_.aggregateExpressions.size <= bound),
      s"pivot aggregates: ${aggs.map(_.aggregateExpressions.size)} > $bound")
  }

  test("composed runRegion is scan-once: every stage reuses one cached pivot (SURVEY §3.1)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._

    val features = Pipeline.geometryFeatures(
      graft.sources.Sources.readGeoJson(spark, fixtureGeoJson)).persist()
    features.count() // geometry parse outside the capture window
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = Files.createTempDirectory("composed").toString
    try {
      Pipeline.runRegion(spark, fixtureCsv, "raw", metricLongNames, "counties",
        features = Some(features), outDir = Some(out),
        wideOut = Some(s"$out/wide-csv"), extentsOut = Some(s"$out/ext-csv"))
      // the execution listener bus is async — poll until the capture
      // count is stable for a second
      var last = -1; var stable = 0
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stable < 4 && System.nanoTime < deadline) {
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
        Thread.sleep(250)
      }
    } finally spark.listenerManager.unregister(listener)
    features.unpersist()

    // structural traversal: descend through AQE wrappers, STOP at
    // InMemoryTableScan (its cached child plan executes once by the
    // cache contract, not per consumer)
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val all = plans.asScala.toSeq
    // wide CSV, extents CSV, decade-00 pbf, decade-10 pbf + cache fills
    assert(all.size >= 4, s"expected >=4 composed actions, saw ${all.size}")
    val directCsv = all.flatMap(allNodes).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("data.csv")) => f
    }
    assert(directCsv.size <= 1,
      s"the long CSV must feed ONE cache build, not per-stage re-scans; " +
        s"found ${directCsv.size} direct scans")
    // wide-table cache consumers: the stage-b artifact write, extents,
    // and both decade tile builds all read metric-year columns from the
    // InMemoryRelation, never from the file
    val wideCacheConsumers = all.count(p => allNodes(p).exists {
      case s: InMemoryTableScanExec =>
        s.output.exists(_.name.matches("(er|p)-\\d\\d"))
      case _ => false
    })
    assert(wideCacheConsumers >= 3,
      s"stages must reuse the cached pivot, saw $wideCacheConsumers consumers")
    assert(!all.flatMap(allNodes).exists(_.nodeName.contains("CartesianProduct")),
      "no stage of the composed pipeline may plan a cartesian product")
  }

  test("decadeTiles choropleth without polygon geometry fails fast") {
    val (wide, _) = Pipeline.runRegion(spark, fixtureCsv, "raw",
      metricLongNames, "counties")
    import spark.implicits._
    val pts = Seq(("01001", -86.6, 32.5)).toDF("GEOID", "lon", "lat")
    val e = intercept[IllegalArgumentException] {
      Pipeline.decadeTiles(wide, pts, "raw", "00", "choropleth", "counties")
    }
    assert(e.getMessage.contains("polygon geometry"))
    // bubble layer still builds from bare points
    val bubble = Pipeline.decadeTiles(wide, pts, "raw", "00", "bubble",
      "counties")
    assert(bubble.count() > 0)
  }
}

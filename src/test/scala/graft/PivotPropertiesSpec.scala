package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Extents, Shape}

/** Seeded-random property tests for the Spark operators (SURVEY.md §5
  * item 3): pivot/unpivot invariants and extents ordering over generated
  * long tables.
  */
class PivotPropertiesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Long rows over a few ids and years with two metrics (`w` nullable)
    * and one carry column (`n`). Ids repeat, so (id, year) rows repeat,
    * and some pairs get extra rows. `ord` values are unique; some rows
    * have a null `ord` (their values are -1 / "ghost") and must never win.
    */
  private def randomLong(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val years = Seq("00", "01", "02")
    val pairs = for {
      id <- (0 until 30).map(i => f"${rnd.nextInt(20)}%05d")
      y <- years if rnd.nextBoolean()
    } yield (id, y)
    val rows = pairs ++ pairs.filter(_ => rnd.nextInt(3) == 0)
    val ords = rnd.shuffle((0L until rows.size).toList)
    val ordered = rows.zip(ords).map { case ((id, y), o) =>
      (id, y, rnd.nextDouble() * 100,
        if (rnd.nextInt(3) == 0) None else Option(rnd.nextInt(1000)), s"n$o", Option(o))
    }
    val ghosts = pairs.filter(_ => rnd.nextInt(4) == 0)
      .map { case (id, y) => (id, y, -1.0, Option(-1), "ghost", Option.empty[Long]) }
    (ordered ++ ghosts).toDF("id", "yy", "v", "w", "n", "ord")
  }

  /** Reference pivot: one `max_by(when…, when…)` aggregate per
    * metric × year cell. */
  private def perCellPivot(long: DataFrame, carry: Seq[String],
                           metrics: Seq[String], years: Seq[String]) = {
    val cells = for (m <- metrics; y <- years) yield max_by(
      when($"yy" === y, col(m)), when($"yy" === y, $"ord")).as(s"$m-$y")
    val aggs = carry.map(c => max_by(col(c), $"ord").as(c)) ++ cells
    long.groupBy("id").agg(aggs.head, aggs.tail: _*).orderBy("id")
  }

  test("pivot row count == distinct ids; cells match max_by oracle (seeds)") {
    val years = Seq("00", "01", "02", "03") // "03" has no rows
    for (seed <- Seq(1, 7, 42)) {
      val long = randomLong(seed).cache()
      val lastNullDups = long.filter($"ord".isNotNull).groupBy("id", "yy")
        .agg(count(lit(1)).as("k"), max_by($"w", $"ord").as("w"))
        .filter($"k" > 1 && $"w".isNull).count()
      assert(lastNullDups > 0, "some duplicate's last row must hold a null cell")
      val wide = Shape.pivotWide(long, "id", Seq("n"), "yy", Seq("v", "w"),
        years, "ord")
      assert(wide.count() == long.select("id").distinct().count())
      // cell for cell against the per-cell formulation
      val oracle = perCellPivot(long, Seq("n"), Seq("v", "w"), years)
      assert(wide.columns.toSeq == oracle.columns.toSeq)
      assert(wide.collect().map(_.toSeq).toSeq ==
        oracle.collect().map(_.toSeq).toSeq)
      // unpivot(pivot) == last-wins-reduced original
      val back = wide.selectExpr("id",
        "stack(3, '00', `v-00`, '01', `v-01`, '02', `v-02`) as (yy, v)")
        .filter($"v".isNotNull)
      val reduced = long.groupBy("id", "yy").agg(max_by($"v", $"ord").as("v"))
      assert(back.except(reduced).count() == 0)
      assert(reduced.except(back).count() == 0)
      long.unpersist()
    }
  }

  test("extents invariants hold for random numeric tables (seeds)") {
    for (seed <- Seq(3, 9)) {
      val rnd = new scala.util.Random(seed)
      val df = (0 until 200).map(_ => (rnd.nextDouble() * 1000 - 500,
        rnd.nextGaussian())).toDF("a", "b")
      val rows = Extents.extents(df, Seq("a", "b")).collect()
      assert(rows.length == 2)
      for (r <- rows) {
        val (mn, mx, q1, q99) = (r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))
        assert(mn <= q1 && q1 <= q99 && q99 <= mx)
      }
    }
  }

  test("rename is a bijection on mapped columns (no collisions, order kept)") {
    val mapping = Seq("a" -> "x", "b" -> "y", "c" -> "z")
    val df = Seq((1, 2, 3, 4)).toDF("a", "b", "c", "unmapped")
    val out = Shape.renameColumns(df, mapping)
    assert(out.columns.toSeq == Seq("x", "y", "z"))
    assert(mapping.map(_._2).distinct.length == mapping.length)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{JsonMap, Spatial, SqlSurface}

/** EP3 — the SQL entry point on the reference's own README queries
  * (README.md:106-124): verbatim fixture answers, and SQL-text vs
  * DataFrame-DSL equivalence at data scale. */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val d = "/root/testdata/sf0.001"

  test("README example queries give the known fixture answers") {
    // 1 changeset tagged 'comment'; 1 created by JOSM; 1 in Liberty Island
    assert(SqlSurface.sqlReadme1(spark, d).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(SqlSurface.sqlReadme2(spark, d).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(SqlSurface.sqlReadme4(spark, d).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // comment join: changeset 10 x {bob, carol}
    val joined = SqlSurface.sqlReadme3(spark, d)
      .orderBy("comment_user_id").collect()
    assert(joined.map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq ===
      Seq((10L, "alice", "bob"), (10L, "alice", "carol")))
  }

  test("missing-key lookup is NULL (Postgres -> semantics), not an ANSI error") {
    SqlSurface.fixtureViews(spark)
    // changeset 11 has an EMPTY tags map: plain element_at would raise
    // MAP_KEY_DOES_NOT_EXIST under ANSI mode; the surface's try_ form
    // must return NULL for it, like hstore's -> operator
    val r = spark.sql(
      """SELECT id, try_element_at(tags, 'created_by') AS v
        |FROM osm_changeset ORDER BY id""".stripMargin).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L))
    assert(r(1).isNullAt(1))
    assert(r(2).getString(1) === "Potlatch 2")
  }

  test("SQL text and DataFrame DSL agree at data scale") {
    def rows(df: org.apache.spark.sql.DataFrame, key: String) =
      df.orderBy(key).collect().map(_.toSeq).toSeq
    assert(rows(SqlSurface.sqlMapContains(spark, d), "event_type") ===
      rows(JsonMap.mapContains(spark, d), "event_type"))
    assert(rows(SqlSurface.sqlLookupLike(spark, d), "event_id") ===
      rows(JsonMap.mapLookupLike(spark, d), "event_id"))
    assert(rows(SqlSurface.sqlEnvelopeJoin(spark, d), "env_id") ===
      rows(Spatial.joinRangeBbox(spark, d), "env_id"))
    assert(rows(SqlSurface.sqlAreaFilter(spark, d), "o_orderkey") ===
      rows(Spatial.filterArea(spark, d), "o_orderkey"))
    assert(rows(SqlSurface.sqlBboxAuto(spark, d), "c_custkey") ===
      rows(Spatial.joinBboxAuto(spark, d), "c_custkey"))
  }

  test("SQL bbox_area over decimal(10,7) corners equals the Column form") {
    // the replicated osm_changeset table stores coordinates as decimal(10,7)
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val cs = Seq("min_lon", "min_lat", "max_lon", "max_lat")
    val df = Seq((-74.05, 40.68, -74.04, 40.69), (10.1234567, -5.5, 10.2, -5.4))
      .toDF(cs: _*).select(cs.map(c => $"$c".cast("decimal(10,7)").as(c)): _*)
    df.createOrReplaceTempView("bbox_decimal")
    val sql = spark.sql(
      "SELECT bbox_area(min_lon, min_lat, max_lon, max_lat) FROM bbox_decimal")
      .collect().map(_.getDouble(0)).toSeq
    val dsl = df.select(graft.functions.BboxArea.bboxArea(
      $"min_lon", $"min_lat", $"max_lon", $"max_lat")).collect().map(_.getDouble(0)).toSeq
    assert(sql === dsl)
    assert(sql.forall(_ > 0.0))
  }

  test("GridBboxJoinRule fires on the SQL-typed containment join") {
    val prev = spark.conf.getOption(graft.plans.GridBboxJoinRule.SkipBytesKey)
    spark.conf.set(graft.plans.GridBboxJoinRule.SkipBytesKey, "0")
    try {
      val plan = SqlSurface.sqlBboxAutoPlan(spark, d)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_cx"),
        s"grid rewrite signature missing from SQL-typed plan:\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set(graft.plans.GridBboxJoinRule.SkipBytesKey, v)
      case None    => spark.conf.unset(graft.plans.GridBboxJoinRule.SkipBytesKey)
    }
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.write.{Merge, WriteConfig}

/** The user-facing surface: run + dataset — ports of the reference's
  * test_dataset.py scenarios on the facade. */
class FacadeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("run + dataset.query round-trip, views track current snapshots") {
    val p = Graft.pipeline(spark,
      Files.createTempDirectory("graft-fc-").toString)
    val cfg = WriteConfig(retryUnitMs = 1)

    p.run(Seq((1L, "alice"), (2L, "bob")).toDF("customer_id", "name"),
      "customers", cfg = cfg)
    p.run(Seq((10L, 1L, 99.5), (11L, 1L, 0.5), (12L, 2L, 30.0))
      .toDF("order_id", "customer_id", "amount"), "orders", cfg = cfg)

    // the reference's own join+group-by+order-by query (test_dataset.py:215-221)
    val ds = p.dataset()
    val got = ds.query(
      """SELECT c.name AS name, SUM(o.amount) AS total
        |FROM customers c JOIN orders o ON c.customer_id = o.customer_id
        |GROUP BY c.name ORDER BY c.name""".stripMargin).collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("alice", 100.0), ("bob", 30.0)))

    // a new load is visible through the SAME dataset on the next query
    // (views re-resolve to the current snapshot, sql_client.py:51-55)
    p.run(Seq((13L, 2L, 70.0)).toDF("order_id", "customer_id", "amount"),
      "orders", cfg = cfg)
    val after = ds.query("SELECT SUM(amount) AS s FROM orders").collect()
    assert(after(0).getDouble(0) == 200.0)

    // ledger recorded both loads
    assert(p.pipeline.loads().count() == 3)
  }

  test("dataset.query registers views only for the tables its SQL names") {
    val p = Graft.pipeline(spark,
      Files.createTempDirectory("graft-fcq-").toString, namespace = "fq")
    val cfg = WriteConfig(retryUnitMs = 1)
    p.run(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "fq_named", cfg = cfg)
    p.run(Seq((1L, 10L)).toDF("id", "w"), "fq_unnamed", cfg = cfg)
    p.run(Seq(2L).toDF("id"), "fq_sub", cfg = cfg)
    def views: Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

    val ds = p.dataset()
    assert(ds.query("SELECT count(*) FROM fq_named").collect()(0).getLong(0) == 2L)
    assert(views.contains("fq_named"))
    assert(!views.contains("fq_unnamed") && !views.contains("fq_sub"),
      s"only the named table may get a view: $views")

    // names inside a CTE body and a subquery resolve to the CURRENT
    // snapshot of each table
    val q = """WITH c AS (SELECT id FROM fq_unnamed)
              |SELECT count(*) FROM c
              |WHERE id IN (SELECT id FROM fq_sub)
              |  AND EXISTS (SELECT 1 FROM fq_named n WHERE n.id = c.id)""".stripMargin
    assert(ds.query(q).collect()(0).getLong(0) == 0L)
    p.run(Seq((2L, 20L)).toDF("id", "w"), "fq_unnamed", cfg = cfg)
    assert(ds.query(q).collect()(0).getLong(0) == 1L)
  }

  test("open-table interface exposes catalog, table handle, and location") {
    // test_dataset.py:236-360 parity
    val wh = Files.createTempDirectory("graft-fc3-")
    val p = Graft.pipeline(spark, wh.toString, namespace = "ot")
    p.run(Seq((1L, "x")).toDF("id", "v"), "located",
      cfg = WriteConfig(retryUnitMs = 1))

    assert(p.openTableCatalog("graft").eq(p.catalog))
    assert(p.openTableCatalog("iceberg").eq(p.catalog)) // alias accepted
    val t = p.loadOpenTable("graft", "located")
    assert(t.read().count() == 1) // handle can scan (test :300-303)
    val loc = p.openTableLocation("graft", "located")
    assert(loc.contains("ot") && loc.contains("located"))
    assert(p.isOpenTable("graft", "located"))
    assert(!p.isOpenTable("graft", "missing"))
    intercept[graft.catalog.ValidationError] { p.openTableCatalog("delta") }
    intercept[graft.catalog.NoSuchTableError] {
      p.openTableLocation("graft", "missing")
    }
  }

  test("facade merge applies disposition semantics") {
    val p = Graft.pipeline(spark,
      Files.createTempDirectory("graft-fc2-").toString)
    val cfg = WriteConfig(primaryKey = Seq("id"), retryUnitMs = 1)
    p.run(Seq((1L, "v1"), (2L, "v1")).toDF("id", "v"), "t", Merge("upsert"), cfg)
    p.run(Seq((2L, "v2"), (3L, "v1")).toDF("id", "v"), "t", Merge("upsert"), cfg)
    val got = p.dataset().table("t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))
  }
}

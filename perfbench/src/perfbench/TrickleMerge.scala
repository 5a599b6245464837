package perfbench

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.GraftDataset
import graft.catalog.GraftCatalog
import graft.pipeline.{GraftPipeline, MaintenancePolicy}
import graft.write.{Append, Merge, WriteConfig}
import scala.collection.mutable

/** The per-commit fixed-cost workload. Many small loads through
  * `GraftPipeline.stage` + `completeLoad`: copy-on-write upserts (half
  * updates, half inserts) into an orders-shaped table alternate with
  * appends into an events-shaped table, with automatic compaction and
  * snapshot expiry every `CycleLoads` snapshots. Each round is one
  * maintenance cycle of loads, one aggregate over the orders, and one
  * near-dedup stream query of a few micro-batches ([[NearDedupStream]]:
  * three commits per batch). */
object TrickleMerge extends Workload {
  val name = "trickle_merge"
  val kinds = Seq("load.upsert", "load.append", "stream.batch")
  val loadKinds: Set[String] = kinds.toSet
  override val readKinds = Set("read.agg")
  val RowsPerLoad = 200
  val InitialOrders = 2000
  val CycleLoads = 4
  val ChunkDocs = 200
  val ChunksPerRound = 3
  val RoundSeconds = 10.0

  val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_status", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_comment", StringType)))

  val EventsSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  private val Statuses = Array("O", "F", "P")
  private val EventTypes = Array("view", "click", "cart", "buy", "leave")
  private val Day0 = java.time.LocalDate.of(2024, 1, 1)
  private val Ts0 = 1704067200000L

  private def order(k: Long, r: scala.util.Random, load: Int): Row =
    Row(k, r.nextInt(50000).toLong, Statuses(r.nextInt(3)),
      r.nextInt(10000000) / 100.0, Date.valueOf(Day0.plusDays(r.nextInt(730))),
      s"load$load-${r.nextInt(1000000)}")

  def run(ctx: Ctx, seconds: Double, small: Boolean): Outcome = {
    // the warm-up runs one short cycle of the same code paths
    val rows = if (small) 20 else RowsPerLoad
    val cycle = if (small) 1 else CycleLoads
    val cat = new GraftCatalog(ctx.spark, ctx.warehouse)
    val ds = new GraftDataset(cat, Common.Ns)
    val stream = new NearDedupStream(ctx, cat, if (small) 20 else ChunkDocs,
      if (small) 1 else ChunksPerRound)
    val pipe = new GraftPipeline(cat, Common.Ns, policy = MaintenancePolicy(
      compactEveryLoads = cycle, expireEveryLoads = cycle,
      keepSnapshots = 4, retryUnitMs = 10))
    val ordersCfg = WriteConfig(primaryKey = Seq("o_orderkey"), retryUnitMs = 10)
    val eventsCfg = WriteConfig(retryUnitMs = 10)

    // the model: what the tables must hold after every successful load
    val orders = mutable.LongMap.empty[Row]
    val keys = mutable.ArrayBuffer.empty[Long]
    val events = mutable.LongMap.empty[Row]
    var nextKey = 1L
    var nextEvent = 1L
    var loads = 0

    locally {
      val r = Common.rng(ctx.seed, 1, -1)
      val init = (0 until (if (small) 100 else InitialOrders)).map { _ =>
        val k = nextKey; nextKey += 1; order(k, r, 0)
      }
      ctx.traced {
        pipe.stage("orders", Common.frame(ctx, init, OrdersSchema), Merge("upsert"), ordersCfg)
        pipe.completeLoad(s"trickle-init-${ctx.seed}")
      }
      loads += 1
      init.foreach { row => orders(row.getLong(0)) = row; keys += row.getLong(0) }
    }

    var loadNo = 0
    var rowsDone = 0L
    var loadSeconds = 0.0
    var loadCpu = 0.0
    ctx.rounds(seconds, RoundSeconds) { r =>
      (0 until 2 * cycle).foreach { _ =>
        val i = loadNo; loadNo += 1
        val r = Common.rng(ctx.seed, 2, i)
        if (i % 2 == 0) {
          val upd = mutable.LinkedHashSet.empty[Long]
          while (upd.size < rows / 2) upd += keys(r.nextInt(keys.size))
          val ins = (0 until rows - rows / 2).map { _ => val k = nextKey; nextKey += 1; k }
          val batch = (upd.toSeq ++ ins).map(k => order(k, r, i + 1))
          val df = Common.frame(ctx, batch, OrdersSchema)
          ctx.op("load.upsert") {
            ctx.span("pipeline.stage")(pipe.stage("orders", df, Merge("upsert"), ordersCfg))
            ctx.span("pipeline.complete_load")(pipe.completeLoad(s"trickle-${ctx.seed}-$i"))
          }.foreach { _ =>
            batch.foreach(row => orders(row.getLong(0)) = row)
            keys ++= ins
            rowsDone += batch.size; loadSeconds += ctx.ops.last.seconds
            loadCpu += ctx.ops.last.cpuSeconds; loads += 1
          }
          Common.metadataProbe(ctx, cat, Seq("orders"))
        } else {
          val batch = (0 until rows).map { j =>
            val e = nextEvent; nextEvent += 1
            Row(e, r.nextInt(20000).toLong, EventTypes(r.nextInt(EventTypes.length)),
              new Timestamp(Ts0 + i * 60000L + j * 97L), r.nextInt(100000) / 100.0)
          }
          val df = Common.frame(ctx, batch, EventsSchema)
          ctx.op("load.append") {
            ctx.span("pipeline.stage")(pipe.stage("events", df, Append, eventsCfg))
            ctx.span("pipeline.complete_load")(pipe.completeLoad(s"trickle-${ctx.seed}-$i"))
          }.foreach { _ =>
            batch.foreach(row => events(row.getLong(0)) = row)
            rowsDone += batch.size; loadSeconds += ctx.ops.last.seconds
            loadCpu += ctx.ops.last.cpuSeconds; loads += 1
          }
          Common.metadataProbe(ctx, cat, Seq("events"))
        }
      }
      // the read path is nearly idle here: one dashboard query a round
      val expect = orders.values.groupBy(_.getString(2)).map { case (st, rs) =>
        st -> (rs.size.toLong, rs.iterator.map(_.getDouble(3)).sum)
      }
      Common.query(ctx, "read.agg", cat.loadTable(Common.Ns, "orders").metadata.currentFiles.size)(
        ds.query("SELECT o_status, count(*) AS n, sum(o_totalprice) AS p FROM orders GROUP BY o_status")) { rows =>
        rows.length == expect.size && rows.forall(row => expect.get(row.getString(0)).exists {
          case (n, p) => row.getLong(1) == n && Common.close(row.getDouble(2), p, 1e-9)
        })
      }
      stream.round(r)
    }

    rowsDone += stream.docs
    loadSeconds += stream.batchSeconds
    loadCpu += stream.batchCpuSeconds
    if (small) return Outcome(rowsDone, loadSeconds, loadCpu, 1.0)

    // gate: final contents equal the model, and the ledger holds every load
    val gotOrders = ds.table("orders").collect()
    ctx.gate(s"orders: ${gotOrders.length} rows, expected ${orders.size}")(
      gotOrders.length == orders.size && gotOrders.forall(g =>
        orders.get(g.getLong(0)).exists(Common.sameRow(_, g))))
    val gotEvents = ds.table("events").collect()
    ctx.gate(s"events: ${gotEvents.length} rows, expected ${events.size}")(
      gotEvents.length == events.size && gotEvents.forall(g =>
        events.get(g.getLong(0)).exists(Common.sameRow(_, g))))
    val ledger = ds.table(GraftPipeline.LoadsTable).count()
    ctx.gate(s"_dlt_loads has $ledger rows, expected $loads")(ledger == loads)
    stream.gate(ds)

    Common.footprint(ctx, cat, loads)
    Outcome(rowsDone, loadSeconds, loadCpu, Common.spaceAmp(ctx, cat))
  }
}

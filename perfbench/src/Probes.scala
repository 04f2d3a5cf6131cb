package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine._
import graft.ext.{IvfPq, NearDup, Similarity}

final case class ProbeRun(name: String, startMs: Double, endMs: Double, jobs: Int) {
  def seconds: Double = (endMs - startMs) / 1000
}

/** Operator probes: each calls one public operator function directly on the
  * benchmark tables and noop-writes its result, so an operator's cost is
  * measured apart from the queries that use it. A probe's inputs are
  * prepared and checkpointed untimed; it runs once to warm, then once timed,
  * and reports that run's wall time and job count.
  */
object Probes {
  /** `before` runs untimed ahead of every run (fresh sink state). */
  final case class Probe(run: () => Unit, before: () => Unit = () => ())

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, dir: String, work: String, names: Seq[String],
      tracer: Tracer): Seq[ProbeRun] = {
    val in = new Inputs(spark, dir)
    names.map { name =>
      val t = Clock.nowMs
      val p = build(spark, dir, s"$work/${name.replace('.', '_')}", name, in)
      p.before(); p.run()
      System.err.println(
        f"[perfbench] probe $name: prepared and warmed in ${(Clock.nowMs - t) / 1000}%.2f s")
      p.before()
      val t0 = Clock.nowMs
      p.run()
      val t1 = Clock.nowMs
      ProbeRun(name, t0, t1, tracer.jobCount(t0, t1))
    }
  }

  /** Inputs shared by several probes, prepared on first use. */
  private final class Inputs(s: SparkSession, dir: String) {
    lazy val orders: DataFrame = Tables.orders(s, dir)
    lazy val docs: DataFrame = Tables.documents(s, dir)
    lazy val customer: DataFrame = Tables.customer(s, dir)
    lazy val embeddings: DataFrame = Tables.embeddings(s, dir)
    def txDocs: DataFrame = docs.select("doc_id", "n_chars", "lang")
    lazy val cells: DataFrame = IvfPq.withDerivedCells(embeddings, "embedding",
      IvfPq.derivedPlanes(embeddings.count())).localCheckpoint()
    lazy val index: IvfPq.Index = {
      val ix = IvfPq.buildIndex(cells, "vec_id", "embedding", "cell")
      IvfPq.Index(ix.cents.localCheckpoint(), ix.cw.localCheckpoint(),
        ix.codes.localCheckpoint())
    }
    lazy val pairs: DataFrame = NearDup.minHashNearDupPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.8).localCheckpoint()
  }

  private def build(s: SparkSession, dir: String, work: String, name: String,
      in: Inputs): Probe = {
    import in._
    // the q17 prior state: current rows for 3/4 of the customers, every
    // fifth with a changed balance
    def scd2Inputs(): (DataFrame, DataFrame) = {
      val base = customer.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(12,2)").as("bal")).localCheckpoint()
      val cur = Keys.surrogateKeysScalable(base.filter(col("c_custkey") % 4 =!= 1),
          "c_custkey", "customer_sk")
        .withColumn("bal", when(col("c_custkey") % 5 === 0, col("bal") + 100)
          .otherwise(col("bal")))
        .withColumn("start_dt", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("end_dt", lit("2099-12-31 00:00:00").cast("timestamp"))
        .withColumn("is_valid", lit(true))
      (cur.localCheckpoint(), base)
    }

    name match {
      // warehouse
      case "Sources.csvWithSchema" =>
        customer.write.mode("overwrite").option("header", "true").csv(s"$work/csv")
        val schema = customer.schema
        Probe(() => noop(Sources.csvWithSchema(s, s"$work/csv", schema)))
      case "Keys.surrogateKeysScalable" =>
        Probe(() => noop(Keys.surrogateKeysScalable(orders, "o_orderkey", "sk")))
      case "Scd2.merge" =>
        val (existing, incoming) = scd2Inputs()
        Probe(() => noop(Scd2.merge(existing, incoming, naturalKey = "c_custkey",
          scdCols = Seq("c_name", "c_mktsegment", "bal"), skCol = "customer_sk",
          runTs = "2024-06-01 00:00:00")))
      case "StarJoin.assembleStarFact" =>
        Probe(() => noop(StarJoin.assembleStarFact(Tables.lineitem(s, dir), orders,
          customer, Tables.nation(s, dir), Tables.region(s, dir), Tables.part(s, dir),
          Tables.supplier(s, dir))))
      case "Sinks.writePartitioned" =>
        Probe(() => Sinks.writePartitioned(orders, s"$work/t", Seq("o_orderpriority")))
      // table operations
      case "TxLog.append" =>
        val batch = txDocs.filter(col("doc_id") % 8 === 0).localCheckpoint()
        Probe(() => { TxLog.append(batch, s"$work/t", Some("lang")); () },
          before = () => Scratch.rm(s"$work/t"))
      case "TxLog.applyChanges" =>
        val deletes = txDocs.filter(col("doc_id") % 8 === 0).select("doc_id", "lang")
          .localCheckpoint()
        val upserts = txDocs.filter(col("doc_id") % 8 === 1)
          .withColumn("n_chars", col("n_chars") * 2L).localCheckpoint()
        Probe(() => { TxLog.applyChanges(s, s"$work/t", deletes, upserts, "doc_id", "lang"); () },
          before = () => {
            Scratch.rm(s"$work/t")
            TxLog.append(txDocs, s"$work/t", Some("lang")): Unit
          })
      case "TxLog.snapshot" =>
        Scratch.rm(s"$work/t")
        (0L until 12L).foreach(i =>
          TxLog.append(txDocs.filter(col("doc_id") % 12L === i), s"$work/t", Some("lang")))
        Probe(() => { TxLog.snapshot(s, s"$work/t"); () })
      case "TxLog.readWhere" =>
        Scratch.rm(s"$work/t")
        val ids = txDocs.select("doc_id", "n_chars").localCheckpoint()
        val w = (ids.agg(max("doc_id")).head.getLong(0) + 8L) / 8L
        (0L until 8L).foreach(i => TxLog.append(
          ids.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1L) * w).repartition(1),
          s"$work/t", None, statsCol = Some("doc_id")))
        Probe(() => noop(TxLog.readWhere(s, s"$work/t", "doc_id",
          (2L * w).toDouble, (4L * w - 1L).toDouble)._1))
      case "Sinks.upsertParquet" =>
        val base = orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("price")).localCheckpoint()
        val delta = base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("price", col("price") * 2).withColumn("status", lit("U"))
        Probe(() => Sinks.upsertParquet(delta, s"$work/t", "o_orderkey"),
          before = () => {
            Scratch.rm(s"$work/t"); Scratch.rm(s"$work/t__upsert_tmp")
            Sinks.writeParquet(base, s"$work/t")
          })
      // corpus
      case "NearDup.minHashNearDupPairs" =>
        Probe(() => noop(NearDup.minHashNearDupPairs(docs, "doc_id", "text",
          n = 3, k = 64, bands = 16, threshold = 0.8)))
      case "NearDup.incrementalPairs" =>
        // old state: every document but one in 16; the delta retires one
        // in 32 of the old documents and adds the held-out ones, revised
        val old = docs.filter(col("doc_id") % 16 =!= 5).localCheckpoint()
        val oldPairs = NearDup.minHashNearDupPairs(old, "doc_id", "text",
          n = 3, k = 64, bands = 16, threshold = 0.8).localCheckpoint()
        val oldSh = NearDup.shingleFrame(old, "doc_id", "text", 3).localCheckpoint()
        val oldSigs = NearDup.minHashSignatureFrame(oldSh, "doc_id", 64).localCheckpoint()
        val gone = old.filter(col("doc_id") % 32 === 7).select("doc_id").localCheckpoint()
        val fresh = docs.filter(col("doc_id") % 16 === 5)
          .select(col("doc_id"), concat(col("text"), lit(" rev3")).as("text"))
          .localCheckpoint()
        Probe(() => noop(NearDup.incrementalPairs(oldPairs, oldSigs, oldSh, gone, fresh,
          "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8)))
      case "IvfPq.buildIndex" =>
        Probe(() => noop(IvfPq.buildIndex(cells, "vec_id", "embedding", "cell").codes))
      case "IvfPq.assignCodes" =>
        val parts = IvfPq.residualParts(cells, index.cents, "vec_id", "embedding", "cell")
          .localCheckpoint()
        Probe(() => noop(IvfPq.assignCodes(parts, index.cw)))
      case "IvfPq.adcShortlist" =>
        val probes = Similarity.hashOrderedProbes(embeddings, "vec_id", "ivfpq", 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Probe(() => noop(IvfPq.adcShortlist(index, probes, nprobe = 4, shortlist = 40)))
      case "NearDup.connectedComponents" =>
        Probe(() => noop(NearDup.connectedComponents(pairs, "id_a", "id_b")))
      case "NearDup.connectedComponents_fixpoint" =>
        Probe(() => noop(NearDup.connectedComponents(pairs, "id_a", "id_b",
          singleJobMaxEdges = 0L)))
      // analytics
      case "Analytics.pricingSummary" =>
        Probe(() => noop(Analytics.pricingSummary(Tables.lineitem(s, dir),
          "1999-06-01 00:00:00")))
      case "Events.sessionize" =>
        Probe(() => noop(Events.sessionize(Tables.events(s, dir), gapSeconds = 1800L)))
      case "AsOfJoin.asofBackward" =>
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id", "value")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("value").as("purchase_value"), col("event_id").as("purchase_id"))
        Probe(() => noop(AsOfJoin.asofBackward(clicks, purchases, key = "user_id",
          leftTime = "ts", rightTime = "ts", tieBreak = "event_id",
          rightVals = Seq("purchase_value", "purchase_id"))))
      case "Keys.rankByScalable" =>
        Probe(() => noop(Keys.rankByScalable(orders.select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), "rk")))
      case other => sys.error(s"unknown probe $other")
    }
  }
}

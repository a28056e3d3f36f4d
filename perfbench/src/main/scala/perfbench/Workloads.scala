package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.etl.{DeltaLog, IncrementalDedup, Lakehouse, Snapshots}
import graft.functions.ZOrder
import graft.gen.Clickstream
import graft.queries._
import graft.streaming.Ingest

/** A workload: a fixed set of operations over the tables. The seed sets
  * the order of the operations and how write batches are split; the
  * program sees only the generated inputs.
  */
trait Workload {
  def name: String
  /** Operation ids, in their unshuffled order. */
  def opIds: Seq[String]
  /** Untimed per-run set-up (reference checksums). */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = ()
  /** The operations of one rep; `repDir` is a fresh directory for writes. */
  def ops(spark: SparkSession, dir: String, seed: Long, repDir: String): Seq[Op]
  /** The order one rep runs `ops` in, drawn from the seeded `rng`. */
  def order(ops: Seq[Op], rng: Random): Seq[Op] = rng.shuffle(ops)
  /** Untimed measurements of a finished rep's directory. */
  def afterRep(repDir: String): Map[String, Double] = Map.empty
}

/** A workload of `SparkEntry.queries` entries. */
final case class QueryWorkload(name: String, packs: Seq[QueryPack],
    opIds: Seq[String]) extends Workload {
  private lazy val fns = packs.flatMap(_.queries).toMap
  def ops(spark: SparkSession, dir: String, seed: Long, repDir: String): Seq[Op] =
    opIds.map(id => Harness.queryOp(id, s => fns(id)(s, dir)))
}

/** The LLM-data pipeline beside the lakehouse write path. A rep runs the
  * write steps in order (bronze generation, Delta commits and time travel,
  * upserts, small appends and compaction, Z-order clustering with a
  * skipping read, incremental near-duplicate ingest against a snapshot
  * store) with the LLM-pipeline queries interleaved at seeded positions.
  * The write steps go through the program's public functions; each
  * read-back is checked against its source.
  */
object Pipeline extends Workload {
  val name = "pipeline_sf0.01"

  /** One entry per mechanism of the LLM-pipeline packs: connected
    * components (build-time jobs and local checkpoints), an SRP trainer
    * (build-time jobs), and the band, edit-distance, set-similarity,
    * cosine and Hamming rules.
    */
  val queryIds: Seq[String] = Seq("q66_dup_clusters", "q300_band_outer_rule",
    "q334_fuzzy_join_rule", "q338_jaccard_join_rule", "q342_srp_join_rule")
  val packs: Seq[QueryPack] = Seq(DedupPack, SimilarityPack, GraphPack, MiningPack)
  private lazy val queries = QueryWorkload(name, packs, queryIds)

  /** Write steps keep their order; queries land between them at random. */
  override def order(ops: Seq[Op], rng: Random): Seq[Op] = {
    val (qs, steps) = ops.partition(o => queryIds.contains(o.id))
    var q = rng.shuffle(qs).toList
    var w = steps.toList
    val out = Seq.newBuilder[Op]
    while (q.nonEmpty || w.nonEmpty) {
      if (q.nonEmpty && rng.nextInt(q.size + w.size) < q.size) { out += q.head; q = q.tail }
      else { out += w.head; w = w.tail }
    }
    out.result()
  }

  val Batches = 2
  val DedupBatches = 1
  /** Bits per Z-order dimension and the clustered file count. */
  private val ZBits = 10
  private val ClusterFiles = 4

  val opIds: Seq[String] = queryIds ++
    Seq("gen_bronze") ++ (0 until Batches).map(i => s"delta_commit_$i") ++
      Seq("delta_read_latest", "delta_read_v0") ++
      (0 until Batches).map(i => s"upsert_$i") ++
      Seq("append") ++
      Seq("compact", "cluster", "skip_read", "dedup_seed") ++
      (1 to DedupBatches).map(j => s"dedup_ingest_$j")

  private def bucket(seed: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(Batches))

  private def skipFilter(df: DataFrame): DataFrame =
    df.filter(col("l_partkey").between(100, 300) &&
      col("l_suppkey").between(10, 40))

  // reference checksums of the sources, set by prepare
  private var refOrders = ""
  private var refLineitem = ""
  private var refSkip = ""
  private var refPrefix = Seq.empty[String]
  private var prefixRows = Seq.empty[Long]

  override def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    val orders = Tables.load(spark, dir, "orders")
    refOrders = Checksum.of(orders)
    refLineitem = Checksum.of(Tables.load(spark, dir, "lineitem"))
    refSkip = Checksum.of(skipFilter(Tables.load(spark, dir, "lineitem")))
    refPrefix = (0 until Batches).map(i => Checksum.of(orders.filter(bucket(seed) <= i)))
    prefixRows = refPrefix.map(_.takeWhile(_ != ':').toLong)
  }

  /** Bytes of the inputs the rep reads: orders, lineitem and documents. */
  def inputBytes(dir: String): Double =
    Seq("orders", "lineitem", "documents").map(n => du(new File(Tables.path(dir, n)))).sum

  def du(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.isFile) f.length.toDouble else 0.0

  def files(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(files).sum
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) 1.0
    else 0.0

  override def afterRep(repDir: String): Map[String, Double] = {
    val root = new File(repDir)
    Map("etl.bytes_on_disk" -> du(root), "etl.files_written" -> files(root))
  }

  def ops(spark: SparkSession, dir: String, seed: Long, repDir: String): Seq[Op] = {
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val bronze = s"$repDir/bronze/events"
    val delta = s"$repDir/delta/orders"
    val upsert = s"$repDir/upsert/orders"
    val small = s"$repDir/small/orders"
    val clustered = s"$repDir/clustered/lineitem"
    val sigs = s"$repDir/sigstore"
    def batch(i: Int) = orders.filter(bucket(seed) === i)
    def prefix(i: Int) = orders.filter(bucket(seed) <= i)
    def docPart(j: Int) = docs.filter(pmod(col("doc_id"), lit(DedupBatches + 1)) === j)
    def rows(i: Int) = (prefixRows(i) - (if (i == 0) 0L else prefixRows(i - 1))).toDouble
    def readCsv = spark.read.option("header", "true").csv(bronze)

    val gen = Op("gen_bronze", ctx => {
      ctx.layer("etl.gen_bronze")(Clickstream.generate(spark, dir)
        .write.option("header", "true").csv(bronze))
      () => Checksum.of(readCsv)
    })
    val commits = (0 until Batches).map { i =>
      Op(s"delta_commit_$i", ctx => {
        val v = ctx.layer("etl.delta_commit")(DeltaLog.commit(batch(i), delta, DeltaLog.Append))
        ctx.note("etl.rows_committed", rows(i))
        () => s"v$v"
      }, Some(s"v$i"))
    }
    val reads = Seq(
      Op("delta_read_latest", ctx => {
        val s = ctx.layer("etl.delta_read")(Checksum.of(DeltaLog.read(spark, delta)))
        () => s
      }, Some(refOrders)),
      Op("delta_read_v0", ctx => {
        val s = ctx.layer("etl.delta_read")(Checksum.of(DeltaLog.read(spark, delta, Some(0L))))
        () => s
      }, Some(refPrefix(0))))
    val upserts = (0 until Batches).map { i =>
      Op(s"upsert_$i", ctx => {
        ctx.layer("etl.upsert")(Ingest.upsertBatch(upsert, prefix(i), "o_orderkey"))
        ctx.note("etl.rows_committed", prefixRows(i).toDouble)
        () => Checksum.of(spark.read.parquet(upsert))
      }, Some(refPrefix(i)))
    }
    // the batches land as separate appends: one op writes them all
    val append = Op("append", ctx => {
      ctx.layer("etl.append")((0 until Batches).foreach(i =>
        batch(i).write.mode("append").parquet(small)))
      () => "ok"
    }, Some("ok"))
    val compact = Op("compact", ctx => {
      ctx.layer("etl.compact")(Lakehouse.compact(spark, small, 2))
      () => Checksum.of(spark.read.parquet(small))
    }, Some(refOrders))
    val zkey = ZOrder.zvalue2(pmod(col("l_partkey"), lit(1 << ZBits)),
      pmod(col("l_suppkey"), lit(1 << ZBits)), ZBits)
    val cluster = Op("cluster", ctx => {
      ctx.layer("etl.cluster")(Lakehouse.clusterBy(lineitem, zkey, clustered, ClusterFiles))
      () => Checksum.of(spark.read.parquet(clustered))
    }, Some(refLineitem))
    val skip = Op("skip_read", ctx => {
      val s = ctx.layer("etl.skip_read")(Checksum.of(skipFilter(spark.read.parquet(clustered))))
      () => s
    }, Some(refSkip))
    val seedStore = Op("dedup_seed", ctx => {
      val v = ctx.layer("etl.dedup_ingest")(
        Snapshots.commit(IncrementalDedup.sign(docPart(0)), sigs, Snapshots.Overwrite))
      () => s"v$v"
    }, Some("v1"))
    val ingests = (1 to DedupBatches).map { j =>
      Op(s"dedup_ingest_$j", ctx => {
        val (kept, dups) = ctx.layer("etl.dedup_ingest") {
          val (k, d) = IncrementalDedup.ingest(docPart(j), sigs)
          (k.select("doc_id").collect().length.toLong, d.collect().length.toLong)
        }
        ctx.note("etl.rows_committed", kept.toDouble)
        () => s"kept=$kept:dups=$dups"
      })
    }
    queries.ops(spark, dir, seed, repDir) ++ Seq(gen) ++ commits ++ reads ++
      upserts ++ Seq(append, compact, cluster, skip, seedStore) ++ ingests
  }
}

object Workloads {
  /** Eight entries spread over the eight star-schema packs: set
    * operations, ranking, scalar subqueries, event paths, TPC-H supplier
    * shapes, hierarchy top-k and a Medallion gold table.
    */
  val star = QueryWorkload("star_sf0.01",
    Seq(RelationalCore, JoinsAggs, WindowsPack, TpchShapesPack, ReportingPack,
      OlistSurfacePack, MedallionPack, LakehousePack),
    Seq("q165_bag_setops", "q101_returned_item_ranking", "q32_scalar_subquery",
      "q94_event_path", "q134_min_cost_supplier", "q116_nation_trade_flow",
      "q150_hierarchy_topk", "q93_gold_revenue"))

  /** The benchmark's workloads. */
  val all: Seq[Workload] = Seq(star, Pipeline)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

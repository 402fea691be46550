package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Overlap, Similarity}
import graft.streaming.{ForgetLedger, MaintenanceLease, StateCompaction, StreamingBm25, StreamingIvf}

/** The store plumbing the [[SparkEntry]] gates share, so that each gate
  * states only its protocol steps and its result relation:
  *  - where a gate's scratch root lives ([[root]]);
  *  - starting every run from a clean root, protocol siblings included
  *    ([[fresh]], [[clear]]);
  *  - the id-range epoch split ([[epochs]]);
  *  - the seed-then-overlap epoch build ([[build]]);
  *  - the BM25 query set and the IVF first-8 quantizer.
  *
  * The build's single invariant: disjoint-epoch writes to one root may
  * overlap once the store's metadata exists, while seeding (the first
  * epoch, or an IVF `init`) and maintenance (compact, refit, rebucket,
  * forget, snapshot, restore) run serially. Epoch writes publish their own
  * write-intent markers and write disjoint `epoch=<n>` directories, so
  * after the seed they share nothing but the root. */
object StoreGate {

  /** `<tmpdir>/graft_<tag>_<dir, every char outside [A-Za-z0-9.] as _>`:
    * one scratch root per gate and testdata dir. Only the name — a gate
    * that owns a store takes [[fresh]] instead. */
  def root(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** [[root]] after [[clear]]. Maintenance renames directories and the
    * protocols leave siblings behind, so overwriting epochs alone cannot
    * undo an earlier run, least of all a killed one. */
  def fresh(s: SparkSession, tag: String, dir: String): String = {
    val r = root(tag, dir)
    clear(s, r)
    r
  }

  /** The local filesystem every gate root lives on. */
  def fs(s: SparkSession): FileSystem =
    FileSystem.get(new java.net.URI("file:///"), s.sessionState.newHadoopConf())

  /** Delete `root` and every sibling the store protocols create beside
    * it: the compaction staging directory and commit marker, the
    * snapshots directory, the forget ledger, the maintenance lease and
    * any epoch-write intent markers. Sub-stores (BM25 postings and stats)
    * keep their siblings inside `root`. */
  def clear(s: SparkSession, root: String): Unit = {
    val f = fs(s)
    Seq(new Path(root), StateCompaction.stagingPath(root),
      StateCompaction.markerPath(root), new Path(SnapshotTool.snapshotsDir(root)),
      new Path(ForgetLedger.ledgerDir(root)), MaintenanceLease.leasePath(root))
      .foreach(f.delete(_, true))
    // stale markers are broken by the listing itself; live ones (a killed
    // writer younger than the intent TTL) are deleted here
    MaintenanceLease.liveIntents(s, root).foreach(f.delete(_, false))
  }

  /** Names of the directories directly under `p`. */
  def subdirs(s: SparkSession, p: String): Set[String] =
    fs(s).listStatus(new Path(p)).filter(_.isDirectory).map(_.getPath.getName).toSet

  def exists(s: SparkSession, p: String): Boolean = fs(s).exists(new Path(p))

  /** `k` disjoint id-range epochs covering every id of `df`: epoch `e`
    * holds ids in [e·span, (e+1)·span) with span = (max(id) + 1) / k + 1.
    * Returned as predicates, so one split can cut several frames that
    * share the id column. Runs one job (the max). */
  def epochs(df: DataFrame, id: String, k: Int): IndexedSeq[Column] = {
    val n = df.agg(max(id)).head.getLong(0) + 1
    val span = n / k + 1
    (0 until k).map(e => col(id) >= e * span && col(id) < (e + 1) * span)
  }

  /** Seed-then-overlap build of one store: `write(e, in)` per epoch
    * predicate of `parts` (usually [[epochs]]). The first epoch seeds the
    * store's metadata and runs alone, unless the store is already
    * `seeded` (an IVF store by its `init`); the other epochs overlap
    * through [[Overlap.chains]]. */
  def build(parts: Seq[Column], seeded: Boolean = false)(
      write: (Long, Column) => Unit): Unit = {
    val writes = parts.indices.map(e => () => write(e.toLong, parts(e)))
    val rest = if (seeded) writes else { writes.head(); writes.tail }
    if (rest.nonEmpty) Overlap.chains(rest: _*)
  }

  /** A BM25 store at `path` over `k` epochs of `docs`. */
  def bm25Build(docs: DataFrame, path: String, k: Int): Unit =
    build(epochs(docs, "doc_id", k)) { (e, in) =>
      StreamingBm25.appendEpoch(docs.filter(in), path, e)
    }

  /** The BM25 gates' query set: every doc with id % 97 == 0, its first six
    * lower-cased tokens as the query text. */
  def bm25Queries(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(trim(lower(col("text"))), "\\s+"), 1, 6))
          .as("text"))

  /** The first `k` embeddings as IVF centroids. */
  def centroids(emb: DataFrame, k: Int = 8): DataFrame =
    emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("centroid_vec"))

  /** Seed an IVF store at `path` with the first-8 [[centroids]] and return
    * their collected handle, which every later append and probe of the
    * run reuses instead of re-reading the centroid parquet. */
  def ivfInit(emb: DataFrame, path: String): Option[Seq[(Int, Array[Double])]] = {
    val cents = centroids(emb)
    StreamingIvf.init(cents, path)
    Some(Similarity.collectCentroids(cents))
  }

  /** An IVF store at `path` over `k` epochs of `emb`, seeded by
    * [[ivfInit]]; returns the quantizer handle. */
  def ivfBuild(emb: DataFrame, path: String, k: Int,
      payloadCols: Seq[String] = Nil): Option[Seq[(Int, Array[Double])]] = {
    val ch = ivfInit(emb, path)
    build(epochs(emb, "vec_id", k), seeded = true) { (e, in) =>
      StreamingIvf.appendEpoch(emb.filter(in), path, e,
        payloadCols = payloadCols, centsOpt = ch)
    }
    ch
  }
}

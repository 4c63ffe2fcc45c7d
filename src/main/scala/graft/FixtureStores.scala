package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndexOps, DedupOps, KeyedStore, VersionedStore}
import graft.streaming.EventStream.deleteRecursively

/** The victim stores of the warm-resolved rows (SURVEY.md §8, a closed
  * set), built once and then served: the reference populates its HBase
  * table once (HPopulate) and queries it many times (HCompute). A row
  * asks for its fixture by name and gets back a store name or a path;
  * its own operator (a read, an upsert, a delete, a serve) still runs
  * against a real store every time. Read-only rows resolve their store
  * in place; rows that mutate it get a file copy of a cached store.
  *
  * Each cache carries the [[fingerprint]] of what built it in a stamp
  * file beside the artifact, and is rebuilt when the stamp does not
  * match:
  *  - the old stamp goes before the build and the new one is published
  *    atomically after it, so a torn build never reads fresh;
  *  - [[KeyedStore.copyTree]] leaves the stamp behind, so a clone or
  *    copy never reads fresh;
  *  - [[KeyedStore.create]] drops the location first, so a store that
  *    anything else re-creates under the same name reads stale.
  *
  * The suffix index keeps its own train-once freshness in the library
  * ([[DedupOps.suffixStoreFresh]]); only q_forget_cascade's suffix leg
  * resolves through here.
  */
object FixtureStores {
  private val StampFile = "_graft_cache_fp"

  /** Content fingerprint of a relation: its row count and, for each
    * 16-bit slice of a 64-bit xxhash64 of every row, the exact sum of
    * that slice over all rows; together the slices carry the exact sum
    * of the hashes. A sum is row-order independent and, unlike an xor,
    * duplicate rows add up instead of cancelling. Each slice sum stays
    * below 2^63 up to 2^47 rows, so ANSI mode never throws, and the
    * sums are plain long arithmetic (a decimal sum of the whole hash
    * goes through BigDecimal per row). The `fp2` tag keeps stamps of
    * the earlier 20-bit fingerprint from ever matching. */
  private[graft] def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val slices = (0 until 64 by 16).map(s =>
      sum(shiftrightunsigned(h, s).bitwiseAND(0xffffL)))
    val r = df.agg(count(lit(1)), slices: _*).head()
    (0 until r.length).map(r.get).mkString("fp2:", ":", "")
  }

  private def stamped(stamp: Path, fp: String): Boolean =
    Files.exists(stamp) && new String(Files.readAllBytes(stamp), UTF_8) == fp

  /** Run `build` unless `present` and `stamp` reads `fp`, then publish
    * `fp` to `stamp`. The one copy of the stamp protocol. */
  private def resolve(present: Boolean, stamp: Path, fp: String)
                     (build: => Unit): Unit =
    if (!(present && stamped(stamp, fp))) {
      Files.deleteIfExists(stamp)
      build
      KeyedStore.atomicWriteBytes(stamp, fp.getBytes(UTF_8))
    }

  // ---- catalog stores (KeyedStore tables and the indexes built on them)

  private def stampOf(spark: SparkSession, name: String): Path =
    KeyedStore.location(spark, name).resolve(StampFile)

  /** Does catalog store `name` exist with a stamp that reads `fp`? */
  private[graft] def fresh(spark: SparkSession, name: String,
                           fp: String): Boolean =
    KeyedStore.exists(spark, name) && stamped(stampOf(spark, name), fp)

  /** Catalog store `name`, resolved in place: `build` (which must
    * re-create `name`) runs only on a miss. */
  private[graft] def inPlace(spark: SparkSession, name: String, fp: String)
                            (build: => Unit): String = {
    resolve(KeyedStore.exists(spark, name), stampOf(spark, name), fp)(build)
    name
  }

  /** A clone at `name` of the catalog store `cache`, which
    * `build(cache)` creates on a miss. */
  private def cloned(spark: SparkSession, cache: String, name: String,
                     fp: String)(build: String => Unit): String = {
    inPlace(spark, cache, fp)(build(cache))
    KeyedStore.cloneStore(spark, cache, name)
    name
  }

  private def keyedFp(rows: DataFrame, key: String, perRegion: Long) =
    s"${fingerprint(rows)}|$key:$perRegion"

  /** Keyed store over `rows`, in place: q_keyed_lookup, q_keyed_range,
    * q_keyed_bloom, q_keyed_multiget, q_sql_keyed_pushdown,
    * q_sql_keyed_join. */
  def keyed(spark: SparkSession, name: String, rows: DataFrame, key: String,
            targetRowsPerRegion: Long): String =
    inPlace(spark, name, keyedFp(rows, key, targetRowsPerRegion))(
      KeyedStore.create(spark, name, rows, key, targetRowsPerRegion))

  /** A clone of the keyed store over `rows`: q_keyed_ttl,
    * q_keyed_secondary_index (primary and index), q_upsert. */
  def keyedClone(spark: SparkSession, name: String, rows: DataFrame,
                 key: String, targetRowsPerRegion: Long): String =
    cloned(spark, name + "_cache", name,
        keyedFp(rows, key, targetRowsPerRegion))(
      KeyedStore.create(spark, _, rows, key, targetRowsPerRegion))

  /** Schema generation of the ANN stores: bump on any change to their
    * layout or build pipeline, and every ANN fixture rebuilds once. */
  private val AnnStoreVersion = 1

  private def annFp(embs: DataFrame, params: String) =
    s"${fingerprint(embs)}|$params|ann-v$AnnStoreVersion"

  private def buildAnn(spark: SparkSession, name: String, embs: DataFrame,
                       pq: Boolean, withLabels: Boolean = false): Unit =
    if (pq) AnnIndexOps.buildPqIndex(spark, name, embs, withLabels = withLabels)
    else AnnIndexOps.buildIndex(spark, name, embs, withLabels = withLabels)

  private def kind(pq: Boolean) = if (pq) "pq" else "int8"

  /** A clone of the int8 (or true-PQ) index over the base 90 % slice
    * (`vec_id % 10 != 0`), one cache per `dir` for all its rows:
    * q_ann_index_incremental, q_ann_index_rebalance, q_stream_ann_index
    * (int8); q_ann_pq_incremental, q_ann_pq_rebalance, q_stream_pq_index
    * (PQ). */
  def annBase90(spark: SparkSession, dir: String, embs: DataFrame,
                pq: Boolean, name: String): String =
    cloned(spark, s"graft_ann_b90_${kind(pq)}_${tag(dir)}", name,
        annFp(embs, s"idx:${kind(pq)}:base=mod10ne0:t512"))(
      buildAnn(spark, _, embs.filter(col("vec_id") % 10 =!= 0), pq))

  /** A clone of the full-corpus index: q_ann_index_delete (int8),
    * q_ann_pq_delete (PQ). */
  def annFull(spark: SparkSession, embs: DataFrame, pq: Boolean,
              name: String): String =
    cloned(spark, name + "_cache", name,
        annFp(embs, s"idx:${kind(pq)}:full:t512"))(buildAnn(spark, _, embs, pq))

  /** The full-corpus index with label columns, in place:
    * q_ann_index_filtered (int8), q_ann_pq_filtered (PQ). */
  def annLabeled(spark: SparkSession, embs: DataFrame, pq: Boolean,
                 name: String): String =
    inPlace(spark, name, annFp(embs, s"idx:${kind(pq)}:full:labels:t512"))(
      buildAnn(spark, name, embs, pq, withLabels = true))

  // ---- path-based stores and tables

  private def tag(dir: String) = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** A new temp directory holding a copy of the path-based store cached
    * at `java.io.tmpdir/<cache>`, which `build(dir)` fills on a miss.
    * The caller deletes the copy. */
  private[graft] def copied(cache: String, fp: String)(build: Path => Unit): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), cache)
    resolve(present = true, dir.resolve(StampFile), fp) {
      deleteRecursively(dir)
      Files.createDirectories(dir)
      build(dir)
    }
    val copy = Files.createTempDirectory(cache + "_run")
    KeyedStore.copyTree(dir, copy)
    copy.toString
  }

  /** A copy of the two-snapshot versioned store: v1 = the orders %5
    * slice, v2 = v1 with keys %3=0 updated (+111), %3=1 deleted, and a
    * k+1 insert (+7) per %3=2 key. The change set is a function of v1,
    * so v1's fingerprint addresses both versions. q_time_travel,
    * q_time_travel_get, q_vstore_restore, q_snapshot_diff,
    * q_incr_view_cdc. */
  def twoSnapshotStore(spark: SparkSession, dir: String): String = {
    val base = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    copied("graft_tt_cache_" + tag(dir), fingerprint(base)) { d =>
      VersionedStore.init(spark, d.toString, base, "o_orderkey")
      val changes = base.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), lit("U").as("op"),
                  (col("cents") + 111L).as("cents"))
        .unionByName(base.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), lit("D").as("op"), col("cents")))
        .unionByName(base.filter(col("o_orderkey") % 3 === 2)
          .select((col("o_orderkey") + 1L).as("o_orderkey"),
                  lit("I").as("op"), (col("cents") + 7L).as("cents")))
      VersionedStore.commit(spark, d.toString, changes, "o_orderkey")
    }
  }

  /** Table `table` at `path`, bucketed (8) and sorted on `key`:
    * q_bucketed_join's two sides. */
  def bucketed(spark: SparkSession, table: String, path: String,
               rows: DataFrame, key: String): String = {
    resolve(spark.catalog.tableExists(table), Paths.get(path, StampFile),
        s"${fingerprint(rows)}|$key") {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      rows.write.bucketBy(8, key).sortBy(key)
        .option("path", path).mode("overwrite").saveAsTable(table)
    }
    table
  }

  /** q_forget_cascade's four victims, each a working copy the cascade
    * may mutate. `vstore` is a temp directory the caller deletes. */
  final case class ForgetVictims(keyed: String, ann: String, vstore: String,
                                 suffix: String)

  /** The victims over `docs` (keyed and versioned, keyed by doc_id),
    * `embs` (the int8 ANN index) and `sfxDocs` (the suffix index). */
  def forgetVictims(spark: SparkSession, dir: String, docs: DataFrame,
                    embs: DataFrame, sfxDocs: DataFrame): ForgetVictims = {
    val t = tag(dir)
    val fpDocs = fingerprint(docs)
    // 1024 rows/region: the cascade's doomed set (every 10th id) covers
    // EVERY region whatever their size, so finer regions only multiply
    // per-region commit machinery (region-count sweep in ROUND13_NOTES).
    val keyed = "graft_forget_docs_" + t
    cloned(spark, keyed + "_cache", keyed, s"$fpDocs|doc_id:1024")(
      KeyedStore.create(spark, _, docs, "doc_id", 1024))
    val ann = "graft_forget_ann_" + t
    cloned(spark, ann + "_cache", ann, annFp(embs, "idx:int8:full:t2048"))(
      AnnIndexOps.buildIndex(spark, _, embs, targetRowsPerRegion = 2048))
    // The suffix index keeps its own freshness; a delete leaves the
    // working store stale by construction, hence the cache/clone split.
    val suffix = "graft_forget_sfx_" + t
    val sfxCache = suffix + "_cache"
    if (!DedupOps.suffixStoreFresh(sfxDocs, sfxCache))
      DedupOps.suffixIndexBuild(sfxDocs, sfxCache).collect()
    DedupOps.suffixIndexClone(spark, sfxCache, suffix)
    val vstore = copied("graft_forget_vcache_" + t, fpDocs)(d =>
      VersionedStore.init(spark, d.toString, docs, "doc_id"))
    ForgetVictims(keyed, ann, vstore, suffix)
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fixture stores of the warm-resolved rows ([[FixtureStores]]):
  * build once per fingerprint, a torn build or a copy never reads
  * fresh, and the fingerprint tells apart what it must. */
class FixtureStoresSpec extends AnyFunSuite {
  import TestSpark._
  import ops.KeyedStore

  private def mkRows(n: Long) = {
    import spark.implicits._
    (0L until n).map(i => (i, s"v$i")).toDF("k", "v")
  }

  test("a catalog store builds once per fingerprint, rebuilds on content " +
       "change, and clones carry no stamp") {
    val name = "graft_keyed_spec_cache"
    val cname = "graft_keyed_spec_cacheclone"
    try {
      var builds = 0
      def build(n: Long): Unit = {
        builds += 1
        KeyedStore.create(spark, name, mkRows(n), "k", 8)
      }
      KeyedStore.drop(spark, name) // stale prior-run artifact
      FixtureStores.inPlace(spark, name, "42")(build(20))
      FixtureStores.inPlace(spark, name, "42")(build(20))
      assert(builds == 1, "fresh cache must skip the build")
      assert(FixtureStores.fresh(spark, name, "42"))
      assert(!FixtureStores.fresh(spark, name, "43"))
      FixtureStores.inPlace(spark, name, "43")(build(30))
      assert(builds == 2, "stale stamp must rebuild")
      assert(spark.table(name).count() == 30)
      // A clone is a WORKING copy: identical rows, no freshness stamp
      // (it will be mutated next — a carried stamp would read fresh on
      // changed content).
      KeyedStore.cloneStore(spark, name, cname)
      assert(spark.table(cname).drop("kr").collect().map(_.toString).sorted
        .toSeq == spark.table(name).drop("kr").collect().map(_.toString)
        .sorted.toSeq)
      assert(!FixtureStores.fresh(spark, cname, "43"))
    } finally {
      KeyedStore.drop(spark, name)
      KeyedStore.drop(spark, cname)
    }
  }

  test("fingerprint is row-order independent and content sensitive") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((2L, "y"), (1L, "x")).toDF("k", "v")
    val c = Seq((1L, "x"), (2L, "z")).toDF("k", "v")
    assert(FixtureStores.fingerprint(a) == FixtureStores.fingerprint(b))
    assert(FixtureStores.fingerprint(a) != FixtureStores.fingerprint(c))
  }

  test("fingerprint tells apart relations the 20-bit sum could not, and " +
       "duplicate rows do not cancel") {
    import spark.implicits._
    // Two single rows whose hashes agree mod 1000003: the earlier
    // fingerprint, sum(pmod(xxhash64, 1000003)) * 31 + count, was equal.
    val pair = spark.range(0, 5000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1000003L)).as("m"))
      .groupBy(col("m")).agg(min(col("id")).as("a"), max(col("id")).as("b"))
      .filter(col("a") =!= col("b")).orderBy(col("m")).head()
    val (x, y) = (pair.getLong(1), pair.getLong(2))
    def one(v: Long) = Seq(v).toDF("id")
    def oldFp(df: org.apache.spark.sql.DataFrame) =
      df.agg((coalesce(sum(pmod(xxhash64(col("id")), lit(1000003L))), lit(0L)) *
        31L + count(lit(1))).as("fp")).head().getLong(0)
    assert(oldFp(one(x)) == oldFp(one(y)), (x, y))
    assert(FixtureStores.fingerprint(one(x)) != FixtureStores.fingerprint(one(y)))
    // A duplicated row adds instead of cancelling (an xor would make
    // {x, x, y} look like {y}).
    val dup = Seq(x, x, y).toDF("id")
    assert(FixtureStores.fingerprint(dup) != FixtureStores.fingerprint(one(y)))
    assert(FixtureStores.fingerprint(dup) !=
      FixtureStores.fingerprint(Seq(x, y).toDF("id")))
    // A plain long sum of the hashes overflows here (ANSI mode throws);
    // the fingerprint does not.
    val many = spark.range(0, 2000).toDF("id")
    assert(scala.util.Try(many.agg(sum(xxhash64(col("id")))).head()).isFailure)
    assert(FixtureStores.fingerprint(many).startsWith("fp2:2000:"))
  }

  test("a path cache: a copy never carries a fresh stamp, and a cache " +
       "without a stamp (a torn build) rebuilds") {
    val cache = "graft_spec_pathcache_" + java.util.UUID.randomUUID()
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), cache)
    var builds = 0
    def resolve(fp: String): java.nio.file.Path =
      Paths.get(FixtureStores.copied(cache, fp) { d =>
        builds += 1
        Files.write(d.resolve("data"), s"build $builds".getBytes("UTF-8"))
      })
    val copies = Seq.newBuilder[java.nio.file.Path]
    try {
      val c1 = resolve("fp-a"); copies += c1
      val c2 = resolve("fp-a"); copies += c2
      assert(builds == 1, "fresh cache must skip the build")
      assert(c1 != c2)
      for (c <- Seq(c1, c2)) {
        assert(new String(Files.readAllBytes(c.resolve("data")), "UTF-8") == "build 1")
        // The copy holds the data and nothing else: no stamp.
        assert(Files.list(c).count() == 1, c)
      }
      // Torn build: the data is there but the stamp was never published.
      Files.list(dir).filter(_ != dir.resolve("data")).forEach(Files.delete(_))
      copies += resolve("fp-a")
      assert(builds == 2, "a cache without a stamp must rebuild")
      copies += resolve("fp-b")
      assert(builds == 3, "a stale stamp must rebuild")
    } finally {
      (copies.result() :+ dir).foreach(streaming.EventStream.deleteRecursively)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Versioned-table guarantees: snapshot isolation (a version's row set
  * never changes, whatever is committed later), append vs overwrite
  * semantics, schema evolution across commits, and manifest atomicity
  * (no torn manifests on disk).
  */
class VersionedSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir() =
    scratchDir("versioned")

  test("append and overwrite commits: each version is its exact row set, forever") {
    val dir = freshDir()
    val v1 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    val v2 = Versioned.commit(Seq((3L, "c")).toDF("id", "s"), dir) // append
    val v3 =
      Versioned.commit(Seq((9L, "z")).toDF("id", "s"), dir, append = false) // overwrite
    assert((v1, v2, v3) === (1, 2, 3))
    def ids(v: Int) =
      Versioned.readVersion(spark, dir, v).select("id").as[Long].collect().toSet
    assert(ids(1) === Set(1L, 2L))
    assert(ids(2) === Set(1L, 2L, 3L), "append version unions prior data")
    assert(ids(3) === Set(9L), "overwrite version replaces contents")
    // snapshot isolation: v1/v2 unchanged after the overwrite commit
    assert(ids(1) === Set(1L, 2L))
    assert(ids(2) === Set(1L, 2L, 3L))
    assert(Versioned.latestVersion(dir) === 3)
    assert(
      Versioned.readVersion(spark, dir).select("id").as[Long].collect().toSet === Set(9L),
      "default read resolves the latest version"
    )
  }

  test("schema evolution: a later commit may add columns; old commits read as null") {
    val dir = freshDir()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.commit(Seq((2L, "b", "en")).toDF("id", "s", "lang"), dir)
    val v2 = Versioned.readVersion(spark, dir, 2)
    assert(v2.columns.sorted === Array("id", "lang", "s"))
    val byId = v2.select("id", "lang").as[(Long, Option[String])].collect().toMap
    assert(byId(1L) === None, "pre-evolution rows surface null for the new column")
    assert(byId(2L) === Some("en"))
    // time travel below the evolution point keeps the old schema
    assert(Versioned.readVersion(spark, dir, 1).columns.sorted === Array("id", "s"))
  }

  test("no torn manifests: every manifest on disk names only existing data dirs") {
    val dir = freshDir()
    (1 to 5).foreach(i => Versioned.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"), dir))
    val manifests = java.nio.file.Files
      .list(java.nio.file.Paths.get(dir, "_manifests"))
      .iterator()
    manifests.forEachRemaining { m =>
      assert(!m.getFileName.toString.startsWith("."), s"temp manifest leaked: $m")
      java.nio.file.Files
        .readAllLines(m)
        .forEach { d =>
          assert(
            java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "data", d)),
            s"manifest $m references missing dir $d"
          )
        }
    }
    assert(Versioned.readVersion(spark, dir, 5).count() === 5L)
  }

  private def dataDirs(dir: String): Set[String] = {
    val p = java.nio.file.Paths.get(dir, "data")
    val it = java.nio.file.Files.list(p).iterator()
    val b = Set.newBuilder[String]
    it.forEachRemaining(d => b += d.getFileName.toString)
    b.result()
  }

  test("vacuum reclaims exclusively-retired dirs; retained versions byte-identical") {
    val dir = freshDir()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir) // v1 → c1
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dir) // v2 → c1+c2
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), dir, append = false) // v3 → c3
    Versioned.commit(Seq((10L, "y")).toDF("id", "s"), dir) // v4 → c3+c4
    val before = Versioned.readVersion(spark, dir, 4).orderBy("id").collect().toSeq
    val rep = Versioned.vacuum(dir, retainLast = 2)
    assert(rep.retained === Seq(3, 4))
    assert(rep.vacuumedVersions === Seq(1, 2))
    assert(rep.removedDataDirs === Seq("c1", "c2"), "only dirs no retained manifest names")
    assert(dataDirs(dir) === Set("c3", "c4"))
    assert(Versioned.readVersion(spark, dir, 4).orderBy("id").collect().toSeq === before)
    assert(Versioned.readVersion(spark, dir, 3).select("id").as[Long].collect().toSet === Set(9L))
    intercept[IllegalArgumentException](Versioned.readVersion(spark, dir, 1))
    intercept[IllegalArgumentException](Versioned.readVersion(spark, dir, 2))
    assert(Versioned.latestVersion(dir) === 4, "latest unchanged by vacuum")
  }

  test("vacuum keeps dirs shared with a retained append chain") {
    val dir = freshDir()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir) // v1 → c1
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dir) // v2 → c1+c2
    val rep = Versioned.vacuum(dir, retainLast = 1) // retires v1, but v2 still needs c1
    assert(rep.vacuumedVersions === Seq(1))
    assert(rep.removedDataDirs === Nil, "c1 is live via v2's manifest")
    assert(dataDirs(dir) === Set("c1", "c2"))
    assert(
      Versioned.readVersion(spark, dir, 2).select("id").as[Long].collect().toSet === Set(1L, 2L)
    )
  }

  test("merge-on-read: latest commit wins, tombstones delete, re-insert resurrects") {
    val dir = freshDir()
    Versioned.commitMerge(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "s", "v"),
      dir
    )
    Versioned.commitMerge(Seq((2L, "B", 21)).toDF("id", "s", "v"), dir) // update
    Versioned.commitMerge(
      Seq((3L, "c", 30)).toDF("id", "s", "v"),
      dir,
      deleted = lit(true)
    ) // delete
    def state() = Versioned
      .readMerged(spark, dir, "id")
      .select("id", "s", "v")
      .as[(Long, String, Int)]
      .collect()
      .toSet
    assert(state() === Set((1L, "a", 10), (2L, "B", 21)))
    // time travel on the merge table: v2 resolves only commits <= 2
    assert(
      Versioned
        .readMerged(spark, dir, "id", v = 2)
        .select("id", "s", "v")
        .as[(Long, String, Int)]
        .collect()
        .toSet === Set((1L, "a", 10), (2L, "B", 21), (3L, "c", 30))
    )
    Versioned.commitMerge(Seq((3L, "c2", 31)).toDF("id", "s", "v"), dir) // re-insert
    assert(state() === Set((1L, "a", 10), (2L, "B", 21), (3L, "c2", 31)))
  }

  test("compactMerged folds state into one base commit; reads unchanged; deltas still win") {
    val dir = freshDir()
    Versioned.commitMerge(Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "s", "v"), dir)
    Versioned.commitMerge(Seq((1L, "A", 9)).toDF("id", "s", "v"), dir)
    Versioned.commitMerge(Seq((2L, "b", 2)).toDF("id", "s", "v"), dir, deleted = lit(true))
    def state() = Versioned
      .readMerged(spark, dir, "id")
      .select("id", "s", "v")
      .as[(Long, String, Int)]
      .collect()
      .toSet
    val before = state()
    val cv = Versioned.compactMerged(spark, dir, "id")
    assert(state() === before, "compaction preserves the resolved view")
    assert(
      Versioned.readVersion(spark, dir, cv).count() === before.size.toLong,
      "compacted base is tombstone-free: exactly the live rows"
    )
    // a post-compaction delta still wins over the folded base
    Versioned.commitMerge(Seq((1L, "AA", 99)).toDF("id", "s", "v"), dir)
    assert(state() === Set((1L, "AA", 99)))
  }

  test("vacuum is idempotent and a full-retention run is a no-op") {
    val dir = freshDir()
    (1 to 3).foreach(i => Versioned.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"), dir))
    val noop = Versioned.vacuum(dir, retainLast = 5)
    assert(noop.vacuumedVersions === Nil && noop.removedDataDirs === Nil)
    Versioned.vacuum(dir, retainLast = 1)
    val again = Versioned.vacuum(dir, retainLast = 1)
    assert(again.retained === Seq(3))
    assert(again.vacuumedVersions === Nil && again.removedDataDirs === Nil)
    assert(Versioned.readVersion(spark, dir, 3).count() === 3L)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc

/** Object-store posture of the WARC paths, exercised through [[SlowFs]]
  * (a foreign-scheme, latency-injecting, byte-counting filesystem):
  *
  *   - the task-committed sink writes through a conf-resolved remote FS,
  *     commits by rename, and leaves no in-progress temps;
  *   - the streaming walk round-trips the same bytes it wrote;
  *   - CDX point reads stay RANGED — k members cost k opens and
  *     ~sum(member_len) bytes, never a shard scan;
  *   - all of it through per-partition REBUILT Configurations, proving
  *     the session's fs overlay reaches executor tasks
  *     ([[graft.util.HadoopConfs]] — with a bare `new Configuration()`
  *     in the task these tests die with "No FileSystem for scheme").
  */
class ObjectStoreSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    // register the shim the way an object store is configured: on the
    // SESSION conf only — never on the classpath defaults
    s.sparkContext.hadoopConfiguration.set("fs.slowfs.impl", "graft.SlowFs")
    s
  }
  import spark.implicits._

  private def slowDir(tag: String): String =
    "slowfs:" + java.nio.file.Files.createTempDirectory(s"graft_slowfs_$tag").toString + "/warc"

  private def fixtureRecords() = {
    val recs = (1L to 24L).flatMap { id =>
      val uri = s"http://os.example.com/doc/$id"
      Seq(
        ((id % 4).toInt, id, 0,
          Warc.renderRecord(
            "request", s"<urn:uuid:req-$id>", Some(uri), Warc.FixtureDate,
            "application/http; msgtype=request",
            s"GET /doc/$id HTTP/1.1\r\nHost: os.example.com\r\n\r\n".getBytes("UTF-8"))),
        ((id % 4).toInt, id, 1,
          Warc.responseRecord(uri, s"<urn:uuid:resp-$id>", Warc.FixtureDate,
            s"<html><body><p>object store page $id</p></body></html>"))
      )
    }
    recs.toDF("g", "ord", "sub", "record_bytes")
      .withColumn("record_bytes", col("record_bytes"))
      .repartition(4, col("g"))
      .sortWithinPartitions("g", "ord", "sub")
  }

  test("HadoopConfs: full capture replays the exact session view, removals stay removed") {
    val hc = spark.sparkContext.hadoopConfiguration
    // a default key the session deliberately REMOVES must not resurrect
    val removedKey = {
      val base = new org.apache.hadoop.conf.Configuration()
      val it = base.iterator()
      var k: String = null
      while (k == null && it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith("io.") && base.getRaw(e.getKey) != null) k = e.getKey
      }
      k
    }
    try {
      hc.set("fs.graft.test.endpoint", "https://store.invalid:9000")
      hc.set("fs.graft.test.secret", "k3y")
      if (removedKey != null) hc.unset(removedKey)
      val overlay = graft.util.HadoopConfs.capture(spark)
      val m = overlay.toMap
      assert(m.get("fs.graft.test.endpoint").contains("https://store.invalid:9000"))
      assert(m.get("fs.graft.test.secret").contains("k3y"))
      // full capture, not a driver-default diff (that semantics depended
      // on homogeneous executor classpaths) — but still closure-sized: a
      // Hadoop conf is a few hundred entries, not data-sized
      assert(overlay.length > 200, s"expected the full conf, got ${overlay.length} entries")
      assert(overlay.length < 5000, s"overlay must stay closure-sized, got ${overlay.length}")
      // rebuild carries the injected keys a bare Configuration would drop
      val rebuilt = graft.util.HadoopConfs.build(overlay)
      assert(rebuilt.get("fs.graft.test.endpoint") === "https://store.invalid:9000")
      assert(new org.apache.hadoop.conf.Configuration().get("fs.graft.test.endpoint") === null)
      // a removed key was never captured, so a defaults-free rebuild
      // cannot resurrect it — even where executor classpath defaults
      // would have carried it
      if (removedKey != null)
        assert(rebuilt.getRaw(removedKey) === null, s"$removedKey must stay unset")
      // the rebuilt view is EXACTLY the session view: same key set, same
      // values — nothing dropped, nothing leaked in from defaults
      import scala.jdk.CollectionConverters._
      val rebuiltMap = rebuilt.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      val sessMap = hc.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      assert(rebuiltMap === sessMap)
    } finally {
      // the session is shared across suites — leave no fake keys behind
      hc.unset("fs.graft.test.endpoint")
      hc.unset("fs.graft.test.secret")
      if (removedKey != null)
        hc.set(removedKey, new org.apache.hadoop.conf.Configuration().getRaw(removedKey))
    }
  }

  test("asset publication on the remote scheme: marker-commit build + pointer-committed compaction") {
    import graft.operators.Indexes
    val root = "slowfs:" +
      java.nio.file.Files.createTempDirectory("graft_slowfs_asset").toString + "/target"
    val corpus = (1 to 10).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    var builds = 0
    def ensure(body: String => Unit): String =
      Indexes.ensureUnder(root, "os-test", "os", corpus, "doc_id", "text", "v=1") { d =>
        builds += 1
        body(d)
      }
    def writeGrams(d: String): Unit =
      (1 to 10).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/grams")
    // BUILD: the asset call dispatches to the marker mode on a scheme'd
    // root — objects land under the FINAL prefix (no temp dir, no
    // directory rename), the root marker object is the read barrier. A
    // build that dies before the marker leaves objects readers never key on
    var halfDir: String = null
    intercept[IllegalStateException] {
      ensure { d =>
        halfDir = d
        writeGrams(d)
        throw new IllegalStateException("build died before its marker")
      }
    }
    val local = halfDir.stripPrefix("slowfs:")
    assert(new java.io.File(s"$local/grams").exists() && !new java.io.File(s"$local/_SUCCESS").exists())
    // ...so the next call rebuilds it once, in place, and publishes
    val base = ensure { d =>
      assert(d === halfDir, "object-store build must write the final prefix directly")
      writeGrams(d)
    }
    assert(base === halfDir && builds === 2)
    assert(new java.io.File(s"$local/_SUCCESS").exists())
    // then resolves: the marker gates a replay
    assert(ensure(_ => ()) === base)
    assert(builds === 2)
    // pre-generation resolution: the plain subdir
    assert(Indexes.liveDir(base, "grams") === s"$base/grams")
    assert(spark.read.parquet(Indexes.liveDir(base, "grams")).count() === 10)

    // COMPACTION SWAP: fold a delta into a fully-written generation dir,
    // then commit by REPLACING the single pointer object — the only
    // atomic primitive assumed; no directory rename anywhere
    (11 to 15).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/delta")
    spark.read.parquet(s"$base/grams")
      .unionByName(spark.read.parquet(s"$base/delta"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/grams.g-2")
    Indexes.commitSwapMarker(base, "2", Seq("grams"))
    assert(Indexes.liveDir(base, "grams") === s"$base/grams.g-2")
    assert(spark.read.parquet(Indexes.liveDir(base, "grams")).count() === 15)
    // the old layout and the folded delta are swept after the commit
    val left = new java.io.File(base.stripPrefix("slowfs:")).listFiles().map(_.getName).toSet
    assert(!left.contains("grams") && !left.contains("delta"), left.toString)
    assert(left.contains("grams.g-2") && left.contains("generation"))

    // a second swap sweeps the previous generation
    spark.read.parquet(s"$base/grams.g-2")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/grams.g-3")
    Indexes.commitSwapMarker(base, "3", Seq("grams"))
    assert(Indexes.liveDir(base, "grams") === s"$base/grams.g-3")
    val left2 = new java.io.File(base.stripPrefix("slowfs:")).listFiles().map(_.getName).toSet
    assert(!left2.contains("grams.g-2"), left2.toString)
    assert(spark.read.parquet(Indexes.liveDir(base, "grams")).count() === 15)
  }

  test("delta fold on the remote scheme: outstanding batches stay visible, compaction refuses") {
    import graft.streaming.CdxStream
    // local WARC shards; the fold asset itself lives on the remote scheme
    val warcDir = java.nio.file.Files.createTempDirectory("graft_slowfs_foldwarc").toString
    Warc.write(fixtureRecords().select(col("record_bytes")), warcDir)
    val shards = new java.io.File(warcDir).listFiles().map(_.getName)
      .filter(_.endsWith(".warc.gz")).sorted
    assert(shards.length >= 2, shards.mkString(", "))
    val dir = "slowfs:" +
      java.nio.file.Files.createTempDirectory("graft_slowfs_fold").toString + "/cdx"
    Warc.memberIndex(spark, warcDir, shards(0))
      .withColumn("surt", graft.operators.Urls.surt(col("target_uri")))
      .write.parquet(s"$dir/idx")
    val base = spark.read.parquet(s"$dir/idx").count()
    val batch = Warc.memberIndex(spark, warcDir, shards(1)).count()
    assert(batch > 0)

    // the live view must see the outstanding delta through the scheme's
    // own FileSystem — a local-disk existence check reports "no delta"
    CdxStream.upsertBatch(spark, warcDir, shards(1), dir, batchId = 0L, compactAt = 0)
    assert(CdxStream.readCaptures(spark, dir).count() === base + batch)

    // the journaled swap renames directories: refused before any write
    val local = new java.io.File(dir.stripPrefix("slowfs:"))
    val before = local.list().toSet
    intercept[UnsupportedOperationException](CdxStream.compactDeltas(spark, dir))
    assert(local.list().toSet === before, "a refused compaction writes nothing")
    assert(CdxStream.readCaptures(spark, dir).count() === base + batch)
  }

  test("task-committed sink + streaming walk round-trip through a conf-resolved remote scheme") {
    val dir = slowDir("sink")
    SlowFs.reset()
    Warc.write(fixtureRecords().select(col("record_bytes")), dir)
    assert(SlowFs.creates.get() > 0, "sink must create through the remote FS")
    assert(SlowFs.renames.get() > 0, "sink must commit by rename (task-commit protocol)")
    // no in-progress attempt temps survive the commit
    val left = new java.io.File(dir.stripPrefix("slowfs:")).listFiles()
    assert(left != null && left.nonEmpty)
    assert(!left.exists(_.getName.contains("inprogress")), left.mkString(", "))

    // the walk reads the same records back through the same scheme
    val got = Warc.read(spark, dir)
      .filter(col("malformed").isNull)
      .select("warc_type", "target_uri")
      .collect()
    assert(got.length === 48)
    assert(got.count(_.getString(0) == "response") === 24)
  }

  test("CDX point reads stay ranged on the remote scheme: k members = k opens, ~member bytes") {
    val dir = slowDir("cdx")
    Warc.write(fixtureRecords().select(col("record_bytes")), dir)
    val idx = Warc.memberIndex(spark, dir)
      .filter(col("malformed").isNull && col("warc_type") === "response")
      .orderBy("target_uri")
      .limit(5)
      .select("path", "member_offset", "member_len", "target_uri")
      .cache()
    val members = idx.collect()
    assert(members.length === 5)
    val wantBytes = members.map(_.getLong(2)).sum
    val totalShardBytes = new java.io.File(dir.stripPrefix("slowfs:"))
      .listFiles().filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum

    SlowFs.reset()
    val fetched = Warc.fetch(spark, idx)
      .select("target_uri", "warc_type")
      .collect()
    assert(fetched.length === 5)
    assert(fetched.forall(_.getString(1) == "response"))
    assert(SlowFs.opens.get() === 5L, s"expected 5 ranged opens, got ${SlowFs.opens.get()}")
    // ranged, not a scan: bytes touched ≈ the members' extents (readFully
    // of exactly member_len each), strictly below the whole-archive size
    assert(SlowFs.bytesRead.get() === wantBytes,
      s"expected $wantBytes member bytes, read ${SlowFs.bytesRead.get()}")
    assert(wantBytes < totalShardBytes, "fixture must make a scan distinguishable")
    idx.unpersist()
    ()
  }
}

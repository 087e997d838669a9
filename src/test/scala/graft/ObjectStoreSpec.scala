package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc
import graft.streaming.DeltaFold

/** Object-store posture of the WARC paths, exercised through [[SlowFs]]
  * (a foreign-scheme, latency-injecting, byte-counting filesystem):
  *
  *   - the task-committed sink writes through a conf-resolved remote FS,
  *     commits by rename, and leaves no in-progress temps;
  *   - the streaming walk round-trips the same bytes it wrote;
  *   - CDX point reads stay RANGED — k members cost k opens and
  *     ~sum(member_len) bytes, never a shard scan;
  *   - all of it through the session conf shipped to tasks
  *     (`org.apache.spark.util.SerializableConfiguration` — with a bare
  *     `new Configuration()` in the task these tests die with "No
  *     FileSystem for scheme").
  */
class ObjectStoreSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = {
    val s = TestSpark.spark
    // register the shim the way an object store is configured: on the
    // SESSION conf only — never on the classpath defaults
    s.sparkContext.hadoopConfiguration.set("fs.slowfs.impl", "graft.SlowFs")
    s
  }
  import spark.implicits._

  private def slowDir(tag: String): String =
    "slowfs:" + scratchDir(s"slowfs_$tag") + "/warc"

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

  test("SerializableConfiguration: the task conf replays the exact session view, removals stay removed") {
    import scala.jdk.CollectionConverters._
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
    def entries(c: org.apache.hadoop.conf.Configuration) =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    try {
      hc.set("fs.graft.test.endpoint", "https://store.invalid:9000")
      hc.set("fs.graft.test.secret", "k3y")
      if (removedKey != null) hc.unset(removedKey)
      // what a task receives: the session conf, wrapped as the WARC paths
      // wrap it, through a Java-serialization round trip
      val session = graft.operators.Indexes.sessionHadoopConf
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(new org.apache.spark.util.SerializableConfiguration(session))
      out.close()
      val task = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject()
        .asInstanceOf[org.apache.spark.util.SerializableConfiguration]
        .value
      // the task conf carries the injected keys a bare Configuration drops
      assert(task.get("fs.graft.test.endpoint") === "https://store.invalid:9000")
      assert(task.get("fs.graft.test.secret") === "k3y")
      assert(new org.apache.hadoop.conf.Configuration().get("fs.graft.test.endpoint") === null)
      // a removed key was never shipped, and the defaults-free task conf
      // cannot resurrect it — even where executor classpath defaults
      // would have carried it
      if (removedKey != null)
        assert(task.getRaw(removedKey) === null, s"$removedKey must stay unset")
      // the task view is EXACTLY the driver's session view: same key set,
      // same values — nothing dropped, nothing leaked in from defaults
      val sessMap = entries(session)
      assert(entries(task) === sessMap)
      // the full conf, not a diff — but still closure-sized: a Hadoop conf
      // is a few hundred entries, not data-sized
      assert(sessMap.size > 200, s"expected the full conf, got ${sessMap.size} entries")
      assert(sessMap.size < 5000, s"the conf must stay closure-sized, got ${sessMap.size} entries")
      assert(bytes.size() < (1 << 20), s"the shipped conf must stay closure-sized, got ${bytes.size()} bytes")
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
    val root = "slowfs:" + scratchDir("slowfs_asset") + "/target"
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

    // COMPACTION: the fold writes a fully-written generation dir, then one
    // REPLACE of the pointer object commits it and the sweep retires the
    // build's subdir and the folded delta
    assert(DeltaFold.gen(base)("grams") === s"$base/grams", "before the first fold: plain")
    def fold(rows: Range): DeltaFold.Gen = {
      val g = DeltaFold.gen(base)
      DeltaFold.upsert(g, 0L) { (_, path) =>
        rows.map(i => (i.toLong, i * 2L)).toDF("id", "v")
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
      DeltaFold.compact(g, Seq("grams")) { out =>
        spark.read.parquet(g("grams"))
          .unionByName(spark.read.parquet(g.delta()).drop("batch_id"))
          .coalesce(1).write.mode("overwrite").parquet(out("grams"))
      }
      DeltaFold.gen(base)
    }
    def listing = new java.io.File(base.stripPrefix("slowfs:")).listFiles().map(_.getName).toSet
    val g2 = fold(11 to 15)
    val stamp2 = g2.stamp.get
    assert(g2("grams") === s"$base/grams.g-$stamp2")
    assert(spark.read.parquet(g2("grams")).count() === 15)
    assert(!listing.contains("grams") && !listing.contains("delta"), listing.toString)
    assert(listing.contains(s"grams.g-$stamp2") && listing.contains("generation"))

    // a second fold sweeps the previous generation and its delta
    val g3 = fold(16 to 17)
    assert(g3.stamp !== g2.stamp)
    assert(!listing.contains(s"grams.g-$stamp2") && !listing.contains(s"delta.g-$stamp2"),
      listing.toString)
    assert(spark.read.parquet(g3("grams")).count() === 17)
  }

  test("delta fold on the remote scheme: batches stay visible and compaction commits") {
    import graft.streaming.CdxStream
    // local WARC shards; the fold asset itself lives on the remote scheme
    val warcDir = scratchDir("slowfs_foldwarc")
    Warc.write(fixtureRecords().select(col("record_bytes")), warcDir)
    val shards = new java.io.File(warcDir).listFiles().map(_.getName)
      .filter(_.endsWith(".warc.gz")).sorted
    assert(shards.length >= 2, shards.mkString(", "))
    val dir = "slowfs:" + scratchDir("slowfs_fold") + "/cdx"
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

    // the pointer commit needs no directory rename: compaction commits on
    // the remote scheme, and the build's idx/ and the delta are swept
    CdxStream.compactDeltas(spark, DeltaFold.gen(dir))
    val left = new java.io.File(dir.stripPrefix("slowfs:")).list().toSet
    assert(left.contains("generation") && !left.contains("idx") && !left.contains("delta"),
      left.toString)
    assert(!DeltaFold.gen(dir).hasDelta())
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

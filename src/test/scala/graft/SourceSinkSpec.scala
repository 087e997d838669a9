package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage beyond the reference's text-only contract: every
  * format the engine claims (SURVEY §2.3 scans/sources/sinks) round-trips
  * schema + values, and bucketed tables join without an exchange — the
  * co-location technique that removes the big-side shuffle at 100 TB.
  */
class SourceSinkSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    scratchDir(name) + "/t"

  test("parquet round-trip preserves schema and values") {
    val src = Tables.orders(spark, sf)
    val out = tmp("parquet")
    src.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    // exact decimal accumulation: a double sum is partition-order-dependent
    // (the engine's own Cols.sumDec* rule), so compare order-insensitively
    assert(
      back.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0) ===
        src.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    )
  }

  test("orc round-trip preserves schema and values") {
    // Spark bundles native ORC (the other columnar format a lakehouse
    // actually serves); same contract as the parquet round-trip.
    val src = Tables.orders(spark, sf)
    val out = tmp("orc")
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    assert(
      back.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0) ===
        src.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)
    )
    // pushdown reaches the ORC scan too
    val plan = back
      .filter(col("o_orderkey") === 42L)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"), plan)
  }

  test("csv round-trip with header + explicit schema") {
    val src = Tables
      .nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val out = tmp("csv")
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read
      .option("header", "true")
      .schema(src.schema) // schema-on-read: no inference pass at scale
      .csv(out)
    assert(back.schema === src.schema)
    assert(
      back.orderBy("n_nationkey").collect().toSeq ===
        src.orderBy("n_nationkey").collect().toSeq
    )
  }

  test("json-lines round-trip with explicit schema") {
    val src = Tables
      .region(spark, sf)
      .select(col("r_regionkey"), col("r_name"))
    val out = tmp("json")
    src.write.mode("overwrite").json(out)
    val back = spark.read.schema(src.schema).json(out)
    assert(back.schema === src.schema)
    assert(
      back.orderBy("r_regionkey").collect().toSeq ===
        src.orderBy("r_regionkey").collect().toSeq
    )
  }

  test("partitioned-sorted layout: pruned reads, sorted files, bounded file count") {
    val out = tmp("layout")
    graft.sources.Layout.writePartitionedSorted(
      Tables.events(spark, sf),
      out,
      partitionCol = "event_type",
      sortCols = Seq("ts"),
      maxRecordsPerFile = 1000L
    )
    val back = spark.read.parquet(out)
    // pruning: the event_type predicate must be a PartitionFilter
    val plan = back
      .filter(col("event_type") === "click")
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(800))
    // one directory per key, each file internally sorted by ts
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("event_type="))
    assert(dirs.length === 5)
    val firstFile = dirs.head.listFiles().filter(_.getName.endsWith(".parquet")).head
    val ts = spark.read.parquet(firstFile.toString).select("ts").collect().map(_.getLong(0))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b }, "rows sorted within file")
    assert(back.count() === Tables.events(spark, sf).count())
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val s2 = spark
    val prevBroadcast = s2.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val db = "buckdb"
    try {
    s2.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables
      .orders(s2, sf)
      .write
      .mode("overwrite")
      .bucketBy(8, "o_custkey")
      .sortBy("o_custkey")
      .saveAsTable(s"$db.orders_b")
    Tables
      .customer(s2, sf)
      .write
      .mode("overwrite")
      .bucketBy(8, "c_custkey")
      .sortBy("c_custkey")
      .saveAsTable(s"$db.customer_b")
    val joined = s2
      .table(s"$db.orders_b")
      .join(
        s2.table(s"$db.customer_b"),
        col("o_custkey") === col("c_custkey")
      )
    val plan = joined.queryExecution.executedPlan.toString
    assert(
      !plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n${plan.take(1500)}"
    )
    // and it still computes the right thing
    val expected = Tables
      .orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .count()
    assert(joined.count() === expected)
    } finally {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      s2.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("compaction: fragmented parquet rewrites to few files, content-identical") {
    val frag = tmp("frag")
    val li = Tables.lineitem(spark, sf)
    li.repartition(64).write.mode("overwrite").parquet(frag)
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) === 64)
    val compacted = tmp("compacted")
    graft.sources.Layout.compact(spark, frag, compacted, targetFileBytes = 64L * 1024 * 1024)
    assert(parquetFiles(compacted) < 8, s"expected few files, got ${parquetFiles(compacted)}")
    val a = spark.read.parquet(frag)
    val b = spark.read.parquet(compacted)
    assert(a.count() === b.count())
    // content equality: order-insensitive exact checksum over a key + measure
    import org.apache.spark.sql.functions._
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.agg(
        sum(col("l_orderkey")).as("sk"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq")
      ).collect()(0)
    assert(sums(a) === sums(b))
  }

  test("schema evolution: mergeSchema unions columns across parquet generations") {
    // a long-lived 100 TB dataset is written by many pipeline versions; a
    // column added in v2 must read as NULL for v1 files, with widened schema
    val dir = tmp("evolve")
    Seq((1L, "a"), (2L, "b"))
      .toDF("id", "name")
      .write
      .mode("overwrite")
      .parquet(s"$dir/gen=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.7))
      .toDF("id", "name", "score")
      .write
      .mode("overwrite")
      .parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("gen", "id", "name", "score"))
    assert(merged.count() === 4)
    // v1 rows surface the evolved column as NULL, v2 rows keep their values
    assert(merged.filter(col("score").isNull).count() === 2)
    assert(
      merged.filter(col("gen") === 2).agg(sum(col("score").cast("decimal(18,1)")))
        .head().getDecimal(0) === new java.math.BigDecimal("1.2")
    )
    // without mergeSchema, the picked footer must still read the union dir
    // without failing on the missing column (pruned to the common subset)
    val plain = spark.read.parquet(dir).select("id", "name")
    assert(plain.count() === 4)
  }

  test("z-order layout: file min/max stats can skip on EITHER clustered column") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val zDir = tmp("zorder")
    val linDir = tmp("linear")
    graft.sources.Layout.writeZOrdered(li, zDir, Seq("l_partkey", "l_suppkey"), nFiles = 16)
    // the baseline every warehouse ships: linear sort on the leading column
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(linDir)

    // a file is skippable for `c = v` when v falls outside its [min, max] —
    // exactly the footer-stats test the parquet reader applies
    def skippable(dir: String, c: String, v: Long): Int = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      files.count { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).head()
        v < r.getLong(0) || v > r.getLong(1)
      }
    }
    val (pMid, sMid) = {
      val r = li.agg(
        expr("percentile(l_partkey, 0.5)"), expr("percentile(l_suppkey, 0.5)")
      ).head()
      (r.getDouble(0).toLong, r.getDouble(1).toLong)
    }
    // linear layout: excellent on the sort column, useless on the other
    assert(skippable(linDir, "l_partkey", pMid) >= 12)
    assert(skippable(linDir, "l_suppkey", sMid) <= 2)
    // z-order: skips meaningfully on BOTH dimensions
    val zp = skippable(zDir, "l_partkey", pMid)
    val zs = skippable(zDir, "l_suppkey", sMid)
    assert(zp >= 6, s"zorder should skip on l_partkey, skipped $zp/16")
    assert(zs >= 6, s"zorder should skip on l_suppkey, skipped $zs/16")
    // and the rewrite is content-preserving
    assert(spark.read.parquet(zDir).count() === li.count())
  }

  test("morton code round-trips: de-interleaving recovers both coordinates") {
    val bits = 16
    // deterministic pseudo-random 16-bit pairs via the engine's own md5-60
    val pairs = spark.range(500).select(
      pmod(graft.util.Cols.md5Long(concat(col("id"), lit("#zx"))), lit(1L << bits)).as("a"),
      pmod(graft.util.Cols.md5Long(concat(col("id"), lit("#zy"))), lit(1L << bits)).as("b")
    )
    val coded = pairs
      .withColumn("z", graft.sources.Layout.mortonCode(Seq(col("a"), col("b")), bits))
      .collect()
    def deinterleave(z: Long, which: Int): Long =
      (0 until bits).map(b => ((z >> (b * 2 + which)) & 1L) << b).sum
    coded.foreach { r =>
      assert(deinterleave(r.getLong(2), 0) === r.getLong(0))
      assert(deinterleave(r.getLong(2), 1) === r.getLong(1))
    }
  }

  test("malformed records: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST fails") {
    // at 100 TB some fraction of ingested lines IS garbage; the read-mode
    // contract decides whether a pipeline quarantines, skips, or halts
    val dir = tmp("corrupt")
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part.json"),
      Seq(
        """{"id": 1, "name": "ok"}""",
        """{"id": "notanumber", "name": "bad-type"}""",
        """{broken json""",
        """{"id": 4, "name": "ok2"}"""
      ).mkString("\n").getBytes("UTF-8")
    )
    val schema = "id LONG, name STRING, _corrupt_record STRING"

    // cache(): Spark disallows queries that touch ONLY the corrupt-record
    // column of a raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val permissive = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache()
    // quarantine split: good rows parse, bad rows carry their raw line
    assert(permissive.filter(col("_corrupt_record").isNull).count() === 2)
    val quarantined = permissive
      .filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record")
      .as[String]
      .collect()
    assert(quarantined.length === 2)
    assert(quarantined.exists(_.contains("notanumber")))
    assert(quarantined.exists(_.contains("{broken json")))

    // DROPMALFORMED evaluates malformedness against the REQUIRED schema
    // (a documented Spark nuance): count() needs no fields, so only the
    // syntactically broken line is dropped — but any query that actually
    // reads `id` re-parses it and also drops the type-mismatched record.
    // Pipelines must therefore not rely on stable counts under this mode;
    // PERMISSIVE + quarantine (above) is the deterministic contract.
    val dropped = spark.read
      .schema("id LONG, name STRING")
      .option("mode", "DROPMALFORMED")
      .json(dir)
    assert(dropped.count() === 3)
    assert(dropped.filter(col("id").isNotNull).count() === 2)

    val failfast = spark.read
      .schema("id LONG, name STRING")
      .option("mode", "FAILFAST")
      .json(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }
}

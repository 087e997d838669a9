package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Scale-up generator for superlinearity validation (VERDICT r4 §next/4).
  *
  * `ScaleData <srcDir> <outDir> <factor>` replicates each fact table
  * `factor`× with CONSISTENT key remapping (every key domain gets a fixed
  * stride = max(key)+1, applied identically on both sides of every FK), so
  * joins produce `factor`× the rows — a genuine scale-up, not a skew bomb:
  *
  *   - customer/orders share the custkey stride; orders/lineitem the
  *     orderkey stride; part+supplier/lineitem their strides;
  *   - events get fresh event ids AND fresh user ids per replica (more
  *     users, same per-user history — how traffic actually grows);
  *   - documents get a per-replica token suffix (replicas are near-dups,
  *     not exact dups — dedup stays realistic) and fresh doc ids;
  *   - embeddings keep their vectors but get fresh label cells per replica
  *     (more clusters of the same size, not 10× fatter clusters — keeps
  *     within-cell quadratic work linear in corpus size);
  *   - region/nation stay as-is (real dimensions don't scale with facts).
  *
  * Output is repartitioned so every table has genuine splits (the
  * single-row-group pathology of the small inputs doesn't carry over).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    val cpus = Session.envCores
    val spark = Session(cpus)

    def src(name: String): DataFrame = Tables.table(spark, srcDir, name)
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast(LongType))).head().getLong(0) + 1L

    val oK = stride(src("orders"), "o_orderkey")
    val cK = stride(src("customer"), "c_custkey")
    val pK = stride(src("part"), "p_partkey")
    val sK = stride(src("supplier"), "s_suppkey")
    val eK = stride(src("events"), "event_id")
    val uK = stride(src("events"), "user_id")
    val dK = stride(src("documents"), "doc_id")
    val vK = stride(src("embeddings"), "vec_id")
    val lK = stride(src("embeddings"), "label")

    val rep = explode(array((0 until factor).map(i => lit(i.toLong)): _*)).as("rep")

    def write(df: DataFrame, name: String): Unit = {
      df.drop("rep")
        .repartition(cpus)
        .write
        .mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scale] $name done")
    }

    // dims: straight copies
    write(src("region"), "region")
    write(src("nation"), "nation")

    def remap(c: String, k: Long) = (col(c) + col("rep") * k).cast(LongType).as(c)

    write(
      src("customer")
        .withColumn("rep", rep)
        .select(
          remap("c_custkey", cK),
          col("c_name"),
          col("c_nationkey"),
          col("c_acctbal"),
          col("c_mktsegment")
        ),
      "customer"
    )
    write(
      src("supplier")
        .withColumn("rep", rep)
        .select(remap("s_suppkey", sK), col("s_name"), col("s_nationkey"), col("s_acctbal")),
      "supplier"
    )
    write(
      src("part")
        .withColumn("rep", rep)
        .select(
          remap("p_partkey", pK),
          col("p_name"),
          col("p_brand"),
          col("p_type"),
          col("p_size"),
          col("p_retailprice")
        ),
      "part"
    )
    write(
      src("orders")
        .withColumn("rep", rep)
        .select(
          remap("o_orderkey", oK),
          remap("o_custkey", cK),
          col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate"),
          col("o_orderpriority")
        ),
      "orders"
    )
    write(
      src("lineitem")
        .withColumn("rep", rep)
        .select(
          remap("l_orderkey", oK),
          remap("l_partkey", pK),
          remap("l_suppkey", sK),
          col("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice"),
          col("l_discount"),
          col("l_tax"),
          col("l_returnflag"),
          col("l_linestatus"),
          col("l_shipdate")
        ),
      "lineitem"
    )
    write(
      src("events")
        .withColumn("rep", rep)
        .select(
          remap("event_id", eK),
          col("ts"),
          remap("user_id", uK),
          col("event_type"),
          col("value"),
          col("props")
        ),
      "events"
    )
    write(
      src("documents")
        .withColumn("rep", rep)
        .select(
          remap("doc_id", dK),
          // Per-TOKEN replica prefix: a suffix-only perturbation leaves
          // replicas of one doc mutual near-dups (Jaccard ≈ 1), growing
          // every dup cluster 10× and the pair count 100× — a skew bomb,
          // not a scale-up. Prefixing every token bijectively gives
          // replicas disjoint shingle sets: same dup RATE, 10× more
          // clusters. The prefix must be PURELY ALPHABETIC and glued to
          // the token (the tokenizer strips [^a-z] and length-1 tokens —
          // a "r3_" prefix normalizes away entirely, silently making all
          // replicas exact token-level duplicates).
          when(col("rep") === 0L, col("text"))
            .otherwise(
              regexp_replace(
                col("text"),
                lit("(\\S+)"),
                concat(
                  lit("q"),
                  element_at(
                    array("abcdefghijklmnopqrstuvwxyz".map(c => lit(c.toString)): _*),
                    ((col("rep") - 1) % 26 + 1).cast(IntegerType)
                  ),
                  lit("$1")
                )
              )
            )
            .as("text"),
          col("lang"),
          col("source")
        )
        .withColumn("n_chars", length(col("text")).cast(LongType)),
      "documents"
    )
    write(
      src("embeddings")
        .withColumn("rep", rep)
        .select(
          remap("vec_id", vK),
          col("embedding"),
          (col("label") + col("rep") * lK).cast(IntegerType).as("label")
        ),
      "embeddings"
    )
    spark.stop()
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Indexes

/** Bench's per-query loop on a synthetic query map: a failing query is
  * loud and left out of the totals, and every timed query reports its
  * layers, read from the JSON lines Bench writes.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val sweep = {
    // start an overlap-pool thread outside any job group, so a pooled
    // thread that kept its creator's properties would count no jobs below
    // (`s`, not the lazy `spark`: the pool thread must not take this
    // spec's initialisation lock)
    val s = spark
    Indexes.par2(s.range(1).collect(), s.range(1).collect())
    Bench.run(s, "unused", Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "ckpt" -> ((s, _) => s.range(10).localCheckpoint().toDF()),
      "overlap" -> { (s, _) =>
        Indexes.par2(s.range(10).collect(), s.range(10).collect())
        s.range(1).toDF()
      },
      "plain" -> ((s, _) => s.range(100).selectExpr("id % 7 AS k").groupBy("k").count())
    ))
  }
  private lazy val full = new ObjectMapper().readTree(sweep.full(0.0, "", "unused"))
  private lazy val compact = new ObjectMapper().readTree(sweep.compact(0.0, "unused"))
  private val timed = Seq("ckpt", "overlap", "plain")

  test("a query that throws is named in failed and left out of the total and nqueries") {
    assert(sweep.failed === Seq("boom"))
    assert(full.get("failed").size === 1 && full.get("failed").get(0).asText === "boom")
    assert(!full.get("queries").has("boom") && !full.get("layers").has("boom"))
    assert(compact.get("nqueries").asInt === 3)
    val perQuery = timed.map(full.get("queries").get(_).asDouble).sum
    assert(math.abs(compact.get("value").asDouble - perQuery) <= 0.003)
  }

  test("construction that checkpoints counts jobs in both phases") {
    val ckpt = full.get("layers").get("ckpt")
    assert(ckpt.get("construct_jobs").asInt >= 1)
    assert(ckpt.get("exec_jobs").asInt >= 1)
  }

  test("jobs run on the overlap pool count under the query's group") {
    assert(full.get("layers").get("overlap").get("construct_jobs").asInt === 2)
  }

  test("every timed query carries every layers field") {
    val fields = Seq("construct_s", "exec_s", "construct_jobs", "exec_jobs", "compiles", "catalyst_ms")
    timed.foreach { q =>
      val l = full.get("layers").get(q)
      fields.foreach(f => assert(l.has(f) && l.get(f).isNumber, s"$q.$f"))
      val total = l.get("construct_s").asDouble + l.get("exec_s").asDouble
      assert(math.abs(full.get("queries").get(q).asDouble - total) <= 0.002, q)
    }
  }
}

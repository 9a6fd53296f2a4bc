package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ChOps

/** Semantics of the ClickHouse-construct rewrites not already covered by
  * the oracle gate. */
class ChOpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("windowFunnel: depth respects order and window") {
    val ev = Seq(
      // user 1: full funnel within window → 3
      (1L, 100L, "signup"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      // user 2: purchase BEFORE click → depth 2
      (2L, 100L, "signup"), (2L, 150L, "purchase"), (2L, 200L, "click"),
      // user 3: click outside the 1000-µs window → depth 1
      (3L, 100L, "signup"), (3L, 5000L, "click"),
      // user 4: restart resets the window — late signup rescues the chain
      (4L, 100L, "signup"), (4L, 4000L, "signup"), (4L, 4500L, "click"),
      (4L, 4800L, "purchase"),
      // user 5: no signup at all → 0
      (5L, 100L, "click"), (5L, 200L, "purchase"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    val out = ChOps.windowFunnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), windowMicros = 1000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 3, 5L -> 0))
  }

  test("dictGet: broadcast lookup preserves fact rows, missing keys null") {
    val facts = Seq((1L, 10), (2L, 20), (3L, 99)).toDF("id", "k")
    val dict = Seq((10, "a"), (20, "b")).toDF("dk", "v")
    val out = ChOps.dictGet(facts, dict, "k", "dk", Map("v" -> "name"))
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("name") == "a")
    assert(out(2).getAs[String]("name") == null)
  }

  test("distributedTopKWithTies matches limitWithTies") {
    val df = Seq(5, 3, 5, 4, 1, 5, 2).toDF("v").repartition(4)
    val dist = ChOps.distributedTopKWithTies(df, col("v"), 2)
      .collect().map(_.getInt(0)).sorted.toSeq
    val global = ChOps.limitWithTies(df, Seq(desc("v")), 2)
      .collect().map(_.getInt(0)).sorted.toSeq
    // top-2 with ties: the three 5s (rank 1) — rank 2 is 4? rank():
    // 5,5,5 → rank 1; 4 → rank 4 > 2, so only the 5s survive
    assert(global == Seq(5, 5, 5))
    // cutoff form: n-th value of top-2 list = 5 → all values >= 5
    assert(dist == Seq(5, 5, 5))
  }

  test("windowFunnel rejects >10 or duplicate steps (encoding guard)") {
    val ev = Seq((1L, 100L, "a")).toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    intercept[IllegalArgumentException] {
      ChOps.windowFunnel(ev, "user_id", "ts", "event_type",
        (0 to 10).map(i => s"s$i"), 1000L)
    }
    intercept[IllegalArgumentException] {
      ChOps.windowFunnel(ev, "user_id", "ts", "event_type",
        Seq("a", "b", "a"), 1000L)
    }
  }

  test("sequenceCount: greedy non-overlapping chains; sequenceMatch is depth==N") {
    val ev = Seq(
      // user 1: two complete chains + a dangling signup → 2
      (1L, 100L, "signup"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (1L, 400L, "signup"), (1L, 500L, "click"), (1L, 600L, "purchase"),
      (1L, 700L, "signup"),
      // user 2: interleaved but only one completion (greedy consumes the
      // first signup; the second signup before click does not restart) → 1
      (2L, 100L, "signup"), (2L, 150L, "signup"), (2L, 200L, "click"),
      (2L, 300L, "purchase"),
      // user 3: never completes → 0, and matched=false
      (3L, 100L, "click"), (3L, 200L, "purchase"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    val steps = Seq("signup", "click", "purchase")
    val counts = ChOps.sequenceCount(ev, "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
    val matched = ChOps.sequenceMatch(ev, "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(matched == Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("rightSemi/rightAnti partition the right table; fullAny dedups both sides") {
    val l = Seq((1, "x"), (1, "y"), (3, "z")).toDF("k", "lv")
    val r = Seq((1, "p"), (2, "q")).toDF("k", "rv")
    val cond = l("k") === r("k")
    val semi = ChOps.rightSemiJoin(l, r, cond).collect().map(_.getInt(0)).toSeq
    val anti = ChOps.rightAntiJoin(l, r, cond).collect().map(_.getInt(0)).toSeq
    assert(semi == Seq(1) && anti == Seq(2)) // multiplicity 1 despite two l-matches
    val full = ChOps.fullAnyJoin(l, r, Seq("k"),
        pickLeft = Seq(col("lv")), pickRight = Seq(col("rv")))
      .orderBy("k").collect()
      .map(row => (row.getInt(0), row.getAs[String]("lv"), row.getAs[String]("rv")))
    assert(full.toSeq == Seq((1, "x", "p"), (2, null, "q"), (3, "z", null)))
  }

  test("limitOffset: skip-then-take over a deterministic ordering") {
    val df = (1 to 20).toDF("v").repartition(4).orderBy("v")
    val out = ChOps.limitOffset(df, offset = 5, n = 3).collect().map(_.getInt(0)).toSeq
    assert(out == Seq(6, 7, 8))
  }

  test("distributedTopKWithTiesCompound matches the global-window form") {
    val df = Seq((5, "b"), (5, "a"), (5, "a"), (4, "z"), (5, "b"), (3, "c"))
      .toDF("v", "s").repartition(4)
    val dist = ChOps.distributedTopKWithTiesCompound(
        df, Seq(col("v") -> true, col("s") -> false), 2)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val global = ChOps.limitWithTies(df, Seq(desc("v"), asc("s")), 2)
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    // ordering (v desc, s asc): (5,a),(5,a) rank 1; (5,b),(5,b) rank 3 > 2
    assert(global == Seq((5, "a"), (5, "a")))
    assert(dist == global)
  }

  test("saltedJoin equals plain join") {
    val left = Seq((1, "x"), (1, "y"), (2, "z")).toDF("key", "lv")
    val right = Seq((1, 100), (2, 200)).toDF("key", "rv")
    val plain = left.join(right, "key").select("key", "lv", "rv")
      .collect().map(_.toString).sorted.toSeq
    val salted = ChOps.saltedJoin(left, right, "key", 3)
      .select("key", "lv", "rv").collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.MaterializedView

/** Streaming semantics: the MV transform must produce identical results in
  * batch (POPULATE) and streaming (refresh) mode — the consistency contract
  * that makes the MV a materialization rather than an approximation. */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeBatch(dir: String): Unit =
    Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 00:40:00", "view", 3.0),
      ("2024-01-01 01:05:00", "click", 4.0),
      ("2024-01-01 01:30:00", "view", 5.0))
      .toDF("ts", "event_type", "value")
      .select(col("ts").cast(TimestampType), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)

  test("MV: batch populate == streaming refresh (Kappa consistency)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    writeBatch(dir)
    val mv = MaterializedView("mv_hourly", StreamingOps.windowedCounts(_))

    val batch = StreamingOps.populate(mv, spark.read.schema(schema).parquet(dir))
      .orderBy("h", "event_type").collect().map(_.toString)

    val q = StreamingOps.refresh(spark, mv, dir, schema)
    q.awaitTermination(60000)
    val streamed = spark.table("mv_hourly")
      .orderBy("h", "event_type").collect().map(_.toString)

    assert(batch.nonEmpty)
    assert(batch.toSeq == streamed.toSeq)
  }

  test("WATCH view: registered MV yields a streaming subscription with MV results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_watch").toString
    writeBatch(dir)
    val mv = MaterializedView("mv_watch", StreamingOps.windowedCounts(_))
    StreamingOps.register(mv)
    try {
      val sub = StreamingOps.watch(spark, "mv_watch", dir, schema)
      assert(sub.isStreaming) // a subscription, not a one-shot query
      val q = sub.writeStream.outputMode("complete").format("memory")
        .queryName("watch_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val watched = spark.table("watch_out")
        .orderBy("h", "event_type").collect().map(_.toString).toSeq
      val batch = StreamingOps.populate(mv, spark.read.schema(schema).parquet(dir))
        .orderBy("h", "event_type").collect().map(_.toString).toSeq
      assert(watched == batch) // the subscription carries the MV's rows
      // unknown view: clear refusal
      intercept[IllegalArgumentException](
        StreamingOps.watch(spark, "nope", dir, schema))
    } finally StreamingOps.dropView("mv_watch")
  }

  test("CH-text MV/WATCH: register via statement, POPULATE backfills, WATCH streams") {
    import graft.chsql.ChSql
    val dir = java.nio.file.Files.createTempDirectory("graft_mvtext").toString
    writeBatch(s"$dir/events.parquet")
    def resolve(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    def stmt(s: String) = ChSql.statement(spark, s)(resolve)._1
    try {
      // register + POPULATE through text; the backfill is queryable
      stmt("""CREATE MATERIALIZED VIEW mv_text AS
             |SELECT event_type, count() AS n, sum(value) AS total
             |FROM events GROUP BY event_type""".stripMargin)
        .collect()
      intercept[org.apache.spark.sql.AnalysisException]( // not yet populated
        spark.table("mv_text"))
      stmt("""CREATE MATERIALIZED VIEW mv_text POPULATE AS
             |SELECT event_type, count() AS n, sum(value) AS total
             |FROM events GROUP BY event_type""".stripMargin)
        .collect()
      val pop = spark.table("mv_text").orderBy("event_type")
        .collect().map(_.toSeq)
      assert(pop.toSeq == Seq(Seq("click", 3L, 7.0), Seq("view", 2L, 8.0)))

      // WATCH returns the STREAMING twin of the same transform
      val sub = stmt("WATCH mv_text")
      assert(sub.isStreaming)
      val q = sub.writeStream.outputMode("complete").format("memory")
        .queryName("mv_text_watch")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val watched = spark.table("mv_text_watch").orderBy("event_type")
        .collect().map(_.toSeq)
      assert(watched.toSeq == pop.toSeq) // stream twin == batch backfill
      // WATCH of an unregistered name refuses clearly
      intercept[IllegalArgumentException](stmt("WATCH nope"))

      // WATCH v EVENTS: the version-heartbeat form — single `version`
      // column (never the result rows), one row per refresh, monotone
      val ev = stmt("WATCH mv_text EVENTS")
      assert(ev.isStreaming)
      assert(ev.columns.toSeq == Seq("version"))
      val evq = ev.writeStream.outputMode("complete").format("memory")
        .queryName("mv_text_events")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      evq.awaitTermination(60000)
      val versions = spark.table("mv_text_events").collect().map(_.getLong(0))
      assert(versions.length == 1 && versions.head == 5L) // 5 source rows folded
      intercept[IllegalArgumentException](stmt("WATCH nope EVENTS"))

      // MV whose SELECT goes through a CTE: the source resolves THROUGH
      // the CTE to the real table, not to the CTE's name
      stmt("""CREATE MATERIALIZED VIEW mv_cte POPULATE AS
             |WITH f AS (SELECT event_type, value FROM events)
             |SELECT event_type, count() AS n FROM f GROUP BY event_type""".stripMargin)
        .collect()
      val cte = spark.table("mv_cte").orderBy("event_type")
        .collect().map(_.toSeq)
      assert(cte.toSeq == Seq(Seq("click", 3L), Seq("view", 2L)))
      stmt("DROP VIEW mv_cte").collect()
      // DROP unregisters from both the registry and the temp-view twin
      stmt("DROP VIEW mv_text").collect()
      intercept[IllegalArgumentException](stmt("WATCH mv_text"))
    } finally {
      spark.catalog.dropTempView("mv_text")
      graft.streaming.StreamingOps.dropView("mv_text")
    }
  }

  test("streaming dedup drops repeated digests within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:10:00", "click", 1.0), // exact dup
      ("2024-01-01 00:15:00", "click", 1.0), // same digest, LATER ts — still a dup
      ("2024-01-01 00:20:00", "view", 2.0))
      .toDF("ts", "event_type", "value")
      .select(col("ts").cast(TimestampType), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingOps.dedupStream(src, Seq("event_type", "value"), "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("dedup_out").count() == 2)
  }

  test("stream-static broadcast enrichment (streaming dictGet twin)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_enrich").toString
    writeBatch(dir)
    val dict = Seq(("click", "interaction"), ("view", "passive"))
      .toDF("et", "category")
    val src = spark.readStream.schema(schema).parquet(dir)
    // static side broadcasts to every micro-batch — no stream-side shuffle
    val q = src.join(org.apache.spark.sql.functions.broadcast(dict),
        src("event_type") === dict("et"), "left")
      .select(col("event_type"), col("category"))
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("enrich_out").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("click") == "interaction" && rows("view") == "passive")
  }

  test("funnelStream equals the batch windowFunnel operator") {
    import graft.operators.ChOps
    // the ChOpsSpec scenario: full funnel, out-of-order, window break,
    // restart rescue, missing first step
    val raw = Seq(
      (1L, 100L, "signup"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (2L, 100L, "signup"), (2L, 150L, "purchase"), (2L, 200L, "click"),
      (3L, 100L, "signup"), (3L, 5000L, "click"),
      (4L, 100L, "signup"), (4L, 4000L, "signup"), (4L, 4500L, "click"),
      (4L, 4800L, "purchase"),
      (5L, 100L, "click"), (5L, 200L, "purchase"))
    val steps = Seq("signup", "click", "purchase")
    val streamed = StreamingOps.funnelStream(
        raw.toDS(), steps, windowMicros = 1000L)
      .collect().map(o => o.user_id -> o.level).toMap
    val batch = ChOps.windowFunnel(
        raw.toDF("user_id", "t", "event_type")
          .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
            col("event_type")),
        "user_id", "ts", "event_type", steps, 1000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed == batch)
    assert(batch == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 3, 5L -> 0))
  }

  test("stateful sessionization groups by 30-min gaps") {
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 3000L), (2L, 50L)).toDS()
    val out = StreamingOps.sessionize(ev).collect()
      .map(s => s.user_id -> (s.session_id, s.n_events)).toMap
    // user 1: events at 0,100 (session 1), 3000 (gap > 1800 → session 2)
    assert(out(1L) == (2L, 1L))
    assert(out(2L) == (1L, 1L))
  }
}

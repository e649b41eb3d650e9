package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.pipeline.{Backfill, EvmLoaders, JobDate, LoadJob}
import graft.sources.EvmFixtures

/** A day's loaders write concurrently: the tables must equal the
  * one-loader-at-a-time result, one loader's failure must not cost the
  * others their partitions, and two loaders may not share a table. */
class BackfillSpec extends AnyFunSuite {
  import TestSession._

  private val day = LocalDate.parse("2026-04-01")
  private val names = Seq("blocks", "logs", "traces", "transactions")

  private def rawFor(d: JobDate): Map[String, DataFrame] = {
    val li = Tables.df(spark, sf, "lineitem")
    Map(
      "blocks" -> EvmFixtures.blocks(Tables.df(spark, sf, "orders")),
      "logs" -> EvmFixtures.logs(Tables.df(spark, sf, "events")),
      "traces" -> EvmFixtures.traces(li),
      "transactions" -> EvmFixtures.transactions(li),
      "receipts" -> EvmFixtures.receipts(li))
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def rows(wh: String, table: String): Seq[String] =
    spark.read.parquet(s"$wh/$table").toJSON.collect().toSeq.sorted

  test("concurrent loaders write exactly the one-at-a-time tables") {
    val loaders = names.map(EvmLoaders.all)
    val together = tmp("graft_bf_fan")
    Backfill.run(loaders, rawFor, together, day, day)
    val apart = tmp("graft_bf_seq")
    loaders.foreach(l => Backfill.run(Seq(l), rawFor, apart, day, day))
    names.foreach { t =>
      val want = rows(apart, t)
      assert(want.nonEmpty, t)
      assert(rows(together, t) === want, t)
    }
    // the bucketed tables keep one file per (dt, bucket) directory
    for (t <- Seq("logs", "traces")) {
      val dayDir = new java.io.File(s"$together/$t/dt=$day")
      val leaves = dayDir.listFiles().toSeq.flatMap(_.listFiles().toSeq)
      assert(leaves.nonEmpty, t)
      leaves.foreach(d => assert(
        d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d))
    }
  }

  test("a failing loader leaves the others written and names itself") {
    val broken = LoadJob("broken", raw =>
      raw("blocks").select(raise_error(lit("bad block")).as("x")))
    val wh = tmp("graft_bf_fail")
    val e = intercept[RuntimeException] {
      Backfill.run(Seq(EvmLoaders.all("blocks"), broken,
        EvmLoaders.all("logs")), rawFor, wh, day, day)
    }
    assert(e.getMessage.contains("loader broken failed on 2026-04-01"),
      e.getMessage)
    for (t <- Seq("blocks", "logs"))
      assert(spark.read.parquet(s"$wh/$t")
        .filter(col("dt") === lit(day.toString).cast("date")).count() > 0, t)
  }

  test("two loaders writing one resource are rejected by name") {
    val e = intercept[IllegalArgumentException] {
      Backfill.run(Seq(EvmLoaders.all("traces"), EvmLoaders.all("blocks"),
        EvmLoaders.all("geth_traces")), rawFor, tmp("graft_bf_dup"), day,
        day)
    }
    assert(e.getMessage.contains("resource traces"), e.getMessage)
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.apache.spark.sql.types.{LongType, StructField, StructType,
  TimestampType}
import graft.ops.Sketch
import graft.parse.{ContractCatalog, ParseRunner}
import graft.pipeline.{Backfill, EvmLoaders, JobDate, ParquetTransferSink,
  Transfer, TransferAbi, TransferClientSpec, TransferRawTable}
import graft.queries.RankSketchSql
import graft.sources.RawTableReader
import graft.streaming.IngestStream
import graft.verify.Verifier

/** One chain-day's whole lifecycle, composed from the engine's public
  * layer functions the way the daily DAG runs them:
  * load (RawTableReader → Backfill over five ethereum loaders, i.e.
  * Enrich + PartitionedWriter) → verify (Verifier.runAll) → parse
  * (ParseRunner, i.e. AbiDecode) → transfer (Transfer through a
  * ParquetTransferSink) → synopsis (the day's transaction gas prices
  * streamed, one file per micro-batch, into the dt-partitioned rank-grid
  * cell table by IngestStream, then the gas-price quantiles of every
  * day loaded so far read back from partition-pruned cells). Every day
  * lands in one warehouse that keeps growing, as a catch-up backfill's
  * does.
  *
  * Every day is cold, as in the reference, where each chain-day is its
  * own spark-submit. The decoded tables already hold earlier days
  * (staged), as a warehouse's do mid catch-up.
  *
  * Inputs (staged by `stage.py`): `days.txt` (the days in order), raw
  * exports under
  * `export/ethereum/<resource>/block_date=<day>/<resource>.json`,
  * the contract catalog document `abi/erc20.json` and the day's
  * transaction gas prices under `gas/<day>/`.
  */
final class EvmWorkload(spark: SparkSession, trace: Trace, in: String,
    out: String) extends Workload {

  private val days: Seq[String] =
    Files.readAllLines(Paths.get(in, "days.txt")).toArray.toSeq
      .map(_.toString.trim).filter(_.nonEmpty)
  private val catalog = ContractCatalog.inMemory(
    Seq(Files.readString(Paths.get(in, "abi", "erc20.json"))))

  /** The loaders, in a fixed order: the ethereum set without contracts,
    * prices and token_transfers, whose enrich joins repeat the shape of
    * the logs and traces ones. Dropping them keeps a run within the
    * benchmark's run budget. */
  private val loaderNames =
    Seq("blocks", "logs", "tokens", "traces", "transactions")
  /** Their raw inputs. */
  private val rawResources = loaderNames :+ "receipts"
  /** The decode tasks run per day: one event over logs, one call over
    * traces. */
  private val Parsed = Set("common.erc20_evt_Transfer",
    "common.erc20_call_transfer")

  private val gasSchema = StructType(Seq(StructField("ts", TimestampType),
    StructField("gas_price", LongType)))

  def units: Int = days.size
  def run(i: Int): Map[String, Any] = lifecycle(days(i))

  private def rawPath(resource: String, ds: String): String =
    s"$in/export/ethereum/$resource/block_date=$ds/$resource.json"

  /** The day's raw frames (Backfill.run caches them for the day's
    * loader fan-out) plus the warehouse's current tokens for the
    * incremental tokens loader. */
  private def readRaw(wh: String, ds: String): Map[String, DataFrame] = {
    val raw = rawResources.map(r =>
      r -> RawTableReader.json(spark, r, rawPath(r, ds))).toMap
    val tokensPath = s"$wh/tokens"
    val existing =
      if (Files.exists(Paths.get(tokensPath))) spark.read.parquet(tokensPath)
      else spark.emptyDataFrame.select(lit(null).cast("string").as("address"))
    raw + ("tokens_existing" -> existing)
  }

  /** The gas-price quantiles of days `from`..`ds`, as the catalog's
    * DuckDB replay of the same sketch computes them over the staged
    * files: the checks run it. */
  private def gasOracle(from: String, ds: String): String =
    RankSketchSql.oracleOver(s"""SELECT gas_price AS v FROM gas
      WHERE CAST(ts AS DATE) >= DATE '$from'
        AND CAST(ts AS DATE) <= DATE '$ds'""")

  private def lifecycle(ds: String): Map[String, Any] = {
    val from = days.head
    val wh = s"$out/warehouse"
    val day = JobDate(LocalDate.parse(ds))

    trace.span("write", "load") { _ =>
      val loaders = loaderNames.map { n =>
        val lj = EvmLoaders.all(n)
        lj.copy(enrich = raw => trace.span("enrich", n)(_ => lj.enrich(raw)))
      }
      Backfill.run(loaders,
        d => trace.span("sources", "read")(_ => readRaw(wh, d.dsString)),
        wh, day.ds, day.ds)
    }

    def whDay(table: String): DataFrame =
      spark.read.parquet(s"$wh/$table").filter(col("dt") === lit(day.sqlDate))

    val checks = trace.span("verify", "verify") { s =>
      val r = Verifier.runAll(whDay("blocks"), whDay("transactions"),
        whDay("logs"), whDay("traces"))
      s.add("checks_failed", r.count(_.isLeft).toDouble)
      r
    }

    trace.span("parse", "parse") { s =>
      val r = ParseRunner.run(spark, catalog, whDay("logs"),
        whDay("traces"), s"$out/parse", t => Parsed(t.tableName))
      s.add("readback_rows", r.map(_._2).sum.toDouble)
    }

    val shipped = trace.span("pipeline", "transfer") { _ =>
      val spec = TransferClientSpec("bench",
        raws = Seq(TransferRawTable("ethereum", "transactions")),
        abis = Seq(TransferAbi("ethereum", "common", "erc20", "Transfer",
          "event")))
      Transfer.run(spec, catalog,
        new ParquetTransferSink(s"$out/transfer/dt=$ds"),
        name =>
          if (!name.contains('.')) whDay(name)
          else spark.read.parquet(s"$out/parse/common/" +
            name.replace('.', '_')).filter(col("dt") === lit(day.sqlDate)))
    }

    val quantiles = trace.span("streaming", "synopsis") { _ =>
      val cells = s"$out/synopsis/gas_price"
      IngestStream.runRankGridByToSink(spark, s"$in/gas/$ds", cells,
        col("gas_price"), to_date(col("ts")), RankSketchSql.Depth,
        RankSketchSql.Width, gasSchema, maxFilesPerTrigger = Some(1))
      val merged = Sketch.mergeRankGrids(spark.read.parquet(cells)
        .filter(col("dt") >= lit(from).cast("date") &&
          col("dt") <= lit(ds).cast("date"))
        .select(col("level"), col("r"), col("bucket"), col("c")))
      Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
        RankSketchSql.Depth, RankSketchSql.Width).collect()
    }

    Map("day" -> ds,
      "verify" -> checks.map(_.fold(e => s"${e.name}: ${e.message}",
        n => s"ok $n")),
      "verify_failed" -> checks.count(_.isLeft),
      "transferred" -> shipped,
      "gas_quantiles" -> quantiles.map(r =>
        Seq(r.getAs[Any](0), r.getAs[Any](1))).toSeq,
      "gas_oracle_sql" -> gasOracle(from, ds))
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.{Bpe, Dedup, Graph, Quality, Similarity}

/** One corpus shard through the curation chain, each stage a call into
  * one `graft.ops` module whose output lands as parquet for the checks:
  * quality rules → n-gram Jaccard pairs, their connected components and
  * MinHash LSH candidates → BPE merges → k-core of the shard's link
  * graph, then TrustRank seeded by that core → LSH near-duplicate
  * embeddings.
  *
  * Inputs (staged by `stage.py`): `shards.txt` and per shard
  * `documents.parquet`, `embeddings.parquet` and `links.parquet`.
  */
final class CurationWorkload(spark: SparkSession, trace: Trace, in: String,
    out: String) extends Workload {
  import CurationWorkload._

  private val shards: Seq[String] =
    Files.readAllLines(Paths.get(in, "shards.txt")).toArray.toSeq
      .map(_.toString.trim).filter(_.nonEmpty)

  def units: Int = shards.size
  def run(i: Int): Map[String, Any] = curate(shards(i))

  private def curate(shard: String): Map[String, Any] = {
    val src = s"$in/$shard"
    val dst = s"$out/$shard"
    def land(df: DataFrame, name: String): DataFrame = {
      df.write.parquet(s"$dst/$name")
      spark.read.parquet(s"$dst/$name")
    }
    val docs = spark.read.parquet(s"$src/documents.parquet")

    val kept = trace.span("ops.quality", "gopher") { _ =>
      val report = land(Quality.gopherRules(docs, "doc_id", "text",
        minWords = MinWords), "quality")
      docs.join(report.filter(col("keep")).select("doc_id"), "doc_id")
    }

    trace.span("ops.dedup", "dedup") { _ =>
      val pairs = trace.span("ops.dedup", "ngram_jaccard") { _ =>
        land(Dedup.ngramJaccardPairs(kept, "doc_id", "text", Shingle,
          MinJaccard), "jaccard")
      }
      trace.span("ops.dedup", "minhash") { _ =>
        land(Dedup.minhashCandidates(kept, "doc_id", "text"), "minhash")
      }
      trace.span("ops.dedup", "components") { _ =>
        land(Dedup.connectedComponents(pairs, "a_id", "b_id"), "components")
      }
    }

    val merges = trace.span("ops.bpe", "learn_merges") { _ =>
      Bpe.learnMerges(kept, "text", BpeMerges)
    }

    trace.span("ops.graph", "core_trust") { _ =>
      val links = spark.read.parquet(s"$src/links.parquet")
      val core = trace.span("ops.graph", "k_core") { _ =>
        land(Graph.kCore(links, "src", "dst", CoreK), "kcore")
      }
      trace.span("ops.graph", "trust_rank") { _ =>
        land(Graph.trustRank(links, "src", "dst", core.select("node"),
          iterations = TrustIterations), "trustrank")
      }
    }

    trace.span("ops.similarity", "lsh_near_dup") { _ =>
      land(Similarity.lshNearDup(
        spark.read.parquet(s"$src/embeddings.parquet"), NearDupCosine),
        "neardup")
    }

    Map("shard" -> shard, "out" -> dst, "params" -> Params,
      "bpe_merges" -> merges.map(m => Map("pair" -> m.pair, "cnt" -> m.cnt)))
  }
}

object CurationWorkload {
  val MinWords = 30
  val Shingle = 3
  val MinJaccard = 0.6
  val BpeMerges = 2
  val CoreK = 4
  val TrustIterations = 2
  val NearDupCosine = 0.98
  /** What the checks recompute the stages with. */
  val Params: Map[String, Any] = Map("min_words" -> MinWords,
    "shingle" -> Shingle, "min_jaccard" -> MinJaccard,
    "bpe_merges" -> BpeMerges, "core_k" -> CoreK,
    "near_dup_cosine" -> NearDupCosine)
}

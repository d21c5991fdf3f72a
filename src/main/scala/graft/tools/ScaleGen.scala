package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Deterministic ~N× replication of a testdata scale-factor directory into a
  * BUILDER-OWNED directory — the scale-rehearsal data source (driver data at
  * `/root/testdata` stays untouched). Usage:
  *
  * {{{
  *   runMain graft.tools.ScaleGen <srcSfDir> <outDir> [factor=10]
  * }}}
  *
  * Replica r of each table shifts every key family by `r × (maxKey+1)` so
  * referential integrity holds WITHIN each replica and replicas are disjoint:
  * joins match exactly as at 1×, the graph queries see `factor`× disjoint
  * copies of the same component structure, and group-by cardinalities scale
  * by `factor` while per-group volumes stay constant (the realistic growth
  * mode for keyed data). Small dims (`nation`, `region`) are copied 1× —
  * every replica's rows still join them, exactly like a real lakehouse where
  * reference dims don't grow with fact volume.
  *
  * Content columns are perturbed deterministically where sameness would
  * change the WORKLOAD, not just the volume:
  *
  *  - `documents.text`: replica r > 0 suffixes every token with `_r{r}` —
  *    otherwise each doc would gain `factor−1` cross-replica near-duplicates
  *    and the dedup queries' candidate-pair counts would grow quadratically
  *    in `factor` instead of linearly (a different workload, not a scale-up);
  *  - `embeddings.embedding`: replica r > 0 adds per-element noise of
  *    magnitude ≤ ~5e-4 — identical vectors replicated 10× would collapse
  *    into degenerate equal-distance clusters in the ANN/SemDeDup cells.
  *
  * Everything else (timestamps, values, statuses) is copied verbatim.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcSfDir> <outDir> [factor]")
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.harness("graft-scalegen")

    def table(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def maxOf(pairs: (String, String)*): Long =
      pairs.map { case (t, c) =>
        table(t).agg(max(col(c)).cast("long")).head.getLong(0)
      }.max + 1

    // one step per key FAMILY (not per column): l_orderkey and o_orderkey
    // must shift together or replica joins break
    val stepOrder = maxOf("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
    val stepPart = maxOf("part" -> "p_partkey", "lineitem" -> "l_partkey")
    val stepSupp = maxOf("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey")
    val stepCust = maxOf("customer" -> "c_custkey", "orders" -> "o_custkey")
    val stepEvent = maxOf("events" -> "event_id")
    val stepUser = maxOf("events" -> "user_id")
    // doc/vec replicas step compactly like every other key family: the
    // planted-fixture families (plantedCorpus/plantedVectors/
    // plantedSpliceCorpus/plantedQuoteCorpus) derive their plant offsets
    // from the corpus max id (DedupOps.plantStep), so planted ids sit above
    // ANY replica id at any factor — the r13 fixed-offset collision (and
    // the 1M-stride stopgap it forced here) is gone at the root.
    val stepDoc = maxOf("documents" -> "doc_id")
    val stepVec = maxOf("embeddings" -> "vec_id")

    /** Union `factor` shifted replicas of `name` and write to `outDir`. */
    def replicate(
        name: String,
        shifts: Map[String, Long],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = table(name)
      val replicas = (0 until factor).map { r =>
        val shifted = shifts.foldLeft(base) { case (df, (c, step)) =>
          df.withColumn(c, col(c) + lit(r * step))
        }
        perturb(shifted, r)
      }
      replicas.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$factor written")
    }

    replicate("lineitem", Map(
      "l_orderkey" -> stepOrder, "l_partkey" -> stepPart, "l_suppkey" -> stepSupp))
    replicate("orders", Map("o_orderkey" -> stepOrder, "o_custkey" -> stepCust))
    replicate("customer", Map("c_custkey" -> stepCust))
    replicate("supplier", Map("s_suppkey" -> stepSupp))
    replicate("part", Map("p_partkey" -> stepPart))
    replicate("events", Map("event_id" -> stepEvent, "user_id" -> stepUser))
    replicate("documents", Map("doc_id" -> stepDoc), (df, r) =>
      if (r == 0) df
      else df
        .withColumn("text", regexp_replace(col("text"), "\\S+", s"$$0_r$r"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // two embedding growth modes (4th arg, default "noise"):
    //  - noise: per-element nudge <= ~5e-4 — DENSITY growth (every replica
    //    is a near-copy of its parent: the dedup-workload decade);
    //  - shift: cyclic dimension rotation by r — EXTENT growth (replica
    //    vectors are genuinely new directions with the same within-replica
    //    cluster geometry: the corpus-gets-bigger decade, under which
    //    key-space self-sizing should hold recall shares flat)
    val embedMode = if (args.length > 3) args(3) else "noise"
    // actual embedding dimension, read once — a hardcoded 64 desynchronizes
    // the rotation amount from the size(embedding) modulus on other dims
    val embDim = table("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    replicate("embeddings", Map("vec_id" -> stepVec), (df, r) =>
      if (r == 0) df
      else if (embedMode == "shift") {
        // rotate by r mod dim; negate once the rotations wrap (keeps
        // replicas distinct directions up to 2*dim replicas)
        val sign = if (r >= embDim) "-" else ""
        df.withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> " +
            s"${sign}element_at(embedding, cast((i + $r % $embDim) % size(embedding) as int) + 1))"))
      }
      else df.withColumn("embedding",
        expr(s"transform(embedding, (x, i) -> " +
          s"cast(x + ((vec_id * 7 + i * 13 + $r * 101) % 997 - 498) * 1e-6 as float))")))
    // reference dims don't grow with fact volume — copy 1×
    Seq("nation", "region").foreach { name =>
      table(name).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x1 written")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: replicate the driver's TPC-H-ish
  * tables `factor`× with shifted keys, so the ENTIRE gate suite and
  * bench can run at 10× data (VERDICT r10 next #1: convert the 100 TB
  * plan-audit arguments into per-query measurements). Correctness is
  * unaffected by the synthesis — the DuckDB oracle runs on the SAME
  * generated parquet, so every gate stays a two-engine cross-check.
  *
  * Shapes preserved per table:
  *  - dimension tables (region, nation) copy as-is — joins stay
  *    broadcastable, exactly like a real 10× corpus;
  *  - fact tables shift every primary AND foreign key by
  *    `copy · (max_key + 1)` so referential integrity holds per copy
  *    and nothing collides across copies;
  *  - `documents.text` for copy k > 0 applies a per-copy VOCABULARY
  *    PERMUTATION π_k to every token (bijection vocab → vocab, seeded
  *    by the copy index). Within a copy this preserves TOKEN-SET
  *    similarity structure EXACTLY — n-grams are equal iff the
  *    originals were, so Jaccard/shingle relations and the planted
  *    near-dup groups survive per copy — while across copies two
  *    transforms of the same doc share tokens only at the
  *    random-permutation baseline. SimHash relations are preserved
  *    STATISTICALLY, not exactly: signatures hash token IDENTITIES, so
  *    a permuted copy's hamming distances shift and pairs sitting at
  *    the maxBits boundary can flip in or out per copy (oracles are
  *    recomputed on the scaled data, so gates stay exact regardless).
  *    Near-dup pair volume therefore grows LINEARLY in the factor
  *    (exactly for the Jaccard/shingle family, in expectation for
  *    simhash), the honest 10× shape. (The r11 word-interleaving left
  *    each copy sharing ~half its token mass with its sources, so
  *    near-dup density grew super-linearly and fixture artifacts
  *    masqueraded as engine super-linearity.) TOKEN counts are
  *    preserved per doc (character lengths shift with the substituted
  *    words, so n_chars is recomputed and char-level statistics drift
  *    slightly per copy); corpus vocabulary stays the source
  *    vocabulary; verbatim replication would instead mint 10-way dup
  *    groups — ScaleSpec's planted mega-bucket rows own that axis;
  *  - `embeddings.embedding` for copy k > 0 rotates the vector by
  *    7k dims — norms and the label structure survive, near-identity
  *    pairs don't replicate.
  *
  * Output: single-file parquet per table (the check_oracle.py / driver
  * contract). Usage:
  *   runMain graft.tools.ScaleUp <srcDir> <outDir> [factor=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = graft.Sessions.local(defaultCpus = 32)
    scaleAll(spark, src, out, factor)
    spark.stop()
  }

  def scaleAll(spark: SparkSession, src: String, out: String,
               factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // dimensions: unchanged
    writeOne(rd("region"), s"$out/region.parquet")
    writeOne(rd("nation"), s"$out/nation.parquet")

    val cust = rd("customer"); val cs = stride(cust, "c_custkey")
    val supp = rd("supplier"); val ss = stride(supp, "s_suppkey")
    val part = rd("part"); val ps = stride(part, "p_partkey")
    val ords = rd("orders"); val os = stride(ords, "o_orderkey")
    val li = rd("lineitem")
    val ev = rd("events")
    val es = stride(ev, "event_id"); val us = stride(ev, "user_id")

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame) =
      (0 until factor).map(k => shift(df, k)).reduce(_ unionByName _)

    writeOne(copies(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k * cs)
    }, s"$out/customer.parquet")
    writeOne(copies(supp) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k * ss)
    }, s"$out/supplier.parquet")
    writeOne(copies(part) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k * ps)
    }, s"$out/part.parquet")
    writeOne(copies(ords) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + k * os)
        .withColumn("o_custkey", col("o_custkey") + k * cs)
    }, s"$out/orders.parquet")
    writeOne(copies(li) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + k * os)
        .withColumn("l_partkey", col("l_partkey") + k * ps)
        .withColumn("l_suppkey", col("l_suppkey") + k * ss)
    }, s"$out/lineitem.parquet")
    // events stay TIME-ORDERED in the file: the source fixture is, and a
    // naive union of copies rewinds event time at every copy boundary —
    // any watermark-driven replay over the file then measures late-drop,
    // not aggregation (caught by the sf1 streaming-probe sentinel). The
    // ordering is enforced INSIDE writeOne (sortWithinPartitions after
    // the repartition(1)) — a pre-shuffle orderBy is not contractually
    // preserved through a round-robin repartition.
    writeOne(copies(ev) { (d, k) =>
      d.withColumn("event_id", col("event_id") + k * es)
        .withColumn("user_id", col("user_id") + k * us)
    }, s"$out/events.parquet", sortCols = Seq("ts", "event_id"))

    // documents: copy 0 verbatim; copy k >= 1 token-maps through the
    // per-copy vocabulary permutation π_k (see the object doc — within-
    // copy similarity structure exact, cross-copy overlap at the random
    // baseline, so near-dup pair volume grows linearly in the factor)
    val docs = rd("documents")
    val ds = stride(docs, "doc_id")
    import org.apache.spark.sql.expressions.Window
    // dense alphabetical rank over the corpus vocabulary; the single-
    // partition window is fine in this offline tool — vocabulary is
    // Heaps-law bounded, orders of magnitude below token volume
    val ranked = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
      .withColumn("r", row_number().over(Window.orderBy(col("w"))))
      .persist()
    ranked.count()
    // π_k: the word at alphabetical rank r maps to the word at rank r of
    // the hash-of-(word, copy) ordering — a deterministic bijection
    // vocab -> vocab (row_number ties broken on w are impossible to
    // collide: w is distinct)
    def permutation(k: Int): DataFrame =
      ranked.select(col("w"), col("r")).join(
        ranked.select(col("w").as("w2"),
          row_number().over(Window.orderBy(
            xxhash64(concat(col("w"), lit(s"#$k"))), col("w"))).as("r")),
        Seq("r"))
        .select(col("w"), col("w2"))
    val docCopies = (0 until factor).map { k =>
      if (k == 0) docs
      else {
        // coalesce: a NULL-text row must survive the explode→regroup
        // round-trip (as text '', n_chars 0) rather than silently drop
        // from copies k >= 1 and break the rows == factor × source
        // invariant
        val toks = docs.select(col("doc_id"), col("lang"), col("source"),
          posexplode(split(coalesce(col("text"), lit("")), " "))
            .as(Seq("pos", "w")))
        val mapped = toks
          .join(broadcast(permutation(k)), Seq("w"), "left")
          .select(col("doc_id"), col("lang"), col("source"), col("pos"),
            coalesce(col("w2"), col("w")).as("w2"))
        val rebuilt = mapped
          .groupBy(col("doc_id"), col("lang"), col("source"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w2")))),
            s => s.getField("w2")), " ").as("text"))
        rebuilt.select((col("doc_id") + k * ds).as("doc_id"),
          col("text"), col("lang"), col("source"),
          length(col("text")).as("n_chars"))
      }
    }
    writeOne(docCopies.reduce(_ unionByName _), s"$out/documents.parquet")
    ranked.unpersist()

    // embeddings: rotate by 7k dims per copy
    val emb = rd("embeddings")
    val vs = stride(emb, "vec_id")
    val embCopies = (0 until factor).map { k =>
      if (k == 0) emb
      else {
        val r = (7 * k) % 64
        emb.select((col("vec_id") + k * vs).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 4096),
            slice(col("embedding"), 1, r)).as("embedding"),
          col("label"))
      }
    }
    writeOne(embCopies.reduce(_ unionByName _), s"$out/embeddings.parquet")
    println(s"scaled $src -> $out at ${factor}x")
  }

  /** Write as ONE parquet FILE at `path` (not a directory) — the
    * fixture layout check_oracle.py and the driver read. Row groups are
    * capped at 2 MB so EVERY table stays SPLITTABLE at sweep scale: a
    * single-row-group file serializes every scan to one task (measured
    * twice now — the r11 sweep ran single-threaded until groups were
    * capped at 8 MB, and 8 MB still left sf1 events/embeddings/documents
    * at 1-5 splits, starving local[32] on scan-bound rows), which is
    * also the property a real 100 TB layout must never have (there the
    * group size is 128 MB+ and splittability comes from file count).
    * Readers pair this with
    * `spark.sql.files.maxPartitionBytes` ≈ the row-group size
    * (SPARK_GRAFT_MAX_PARTITION_BYTES in Verify/Bench). `sortCols`, when
    * given, is applied WITHIN the single output partition after the
    * repartition — the only shuffle-proof way to a globally sorted file
    * (an upstream orderBy is not contractually preserved through the
    * round-robin repartition(1)).
    */
  private def writeOne(df: DataFrame, path: String,
                       sortCols: Seq[String] = Nil,
                       blockBytes: Long = 2L * 1024 * 1024): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = path + ".tmpdir"
    val one = df.repartition(1)
    val sorted =
      if (sortCols.isEmpty) one
      else one.sortWithinPartitions(sortCols.map(col): _*)
    sorted.write.mode("overwrite")
      .option("parquet.block.size", blockBytes.toString)
      .parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && p.contains("part-"))
    require(part.length == 1, s"expected one part file, got ${part.length}")
    Files.createDirectories(Paths.get(path).getParent)
    Files.move(Paths.get(part(0)), Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir (part + _SUCCESS + crc files)
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    println(s"wrote $path")
  }
}

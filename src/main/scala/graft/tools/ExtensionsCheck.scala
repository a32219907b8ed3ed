package graft.tools

import org.apache.spark.sql.SparkSession

/** Fresh-JVM check that `spark.sql.extensions=graft.GraftExtensions`
  * resolves every native function by name in SQL (the cluster-install
  * path; the in-suite specs cover the per-session register() path): every
  * name of `VectorFunctions.sqlFunctions` must pass `functionExists` (exit
  * status 1 naming the misses otherwise), then a smoke query evaluates a
  * spread of them.
  *
  * {{{ sbt "runMain graft.tools.ExtensionsCheck" }}}
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = graft.functions.VectorFunctions.sqlFunctions.map(_._1)
    val missing = names.filterNot(spark.catalog.functionExists)
    if (missing.nonEmpty) {
      System.err.println(
        s"extension left ${missing.size} of ${names.size} functions " +
          s"unresolved: ${missing.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    val r = spark.sql(
      """SELECT simhash60('alpha beta') AS sh,
                sorted_jaccard(word_shingle_hashes('a b c', 2),
                               word_shingle_hashes('a b c', 2)) AS j,
                cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                size(minhash_lanes(word_shingle_hashes('a b c d', 2), 8)) AS m,
                size(char_ngrams('abcd', 2)) AS n,
                size(winnow_fingerprint('a b c d e f g h', 2, 3)) AS w,
                from_avro(to_avro(struct('v' AS s, 9 AS x),
                                  's STRING, x INT'),
                          's STRING, x INT').x AS ax,
                mmr_select(array(
                    struct(0.9D AS rel, 'a' AS id, array(1.0D, 0.0D) AS v),
                    struct(0.5D AS rel, 'b' AS id, array(0.0D, 1.0D) AS v)),
                  2, 0.7)[0].id AS mm,
                bpe_encode('lower',
                  array(struct('e','r'), struct('l','o'),
                        struct('lo','w')))[0] AS bp,
                linear_score(array('good', 'bad'),
                  array(struct('good', CAST(0.5 AS DOUBLE)),
                        struct('bad', -0.25)), 0.125) AS ls,
                linear_score_hashed(array('tok'),
                  array(CAST(0.5 AS DOUBLE)), 0.25) AS lsh,
                deflate_ratio(repeat('spam ', 200)) AS dr
      """).head
    require(r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0 &&
            r.getInt(3) == 8 && r.getInt(4) == 3 && !r.isNullAt(0) &&
            r.getInt(5) > 0 && r.getInt(6) == 9 && r.getString(7) == "a" &&
            r.getString(8) == "low" && r.getDouble(9) == 0.375 &&
            r.getDouble(10) == 0.75 && // single bucket: bias + w[0]
            r.getDouble(11) > 0.0 && r.getDouble(11) < 0.1,
      s"extension-resolved functions misbehaved: $r")
    val r6 = spark.sql(
      """SELECT size(word_ngram_hashes60('a b c d', 3)) AS ng,
                size(word_ngram_hashes60('a b', 3)) AS ng_short,
                nfc_normalize('cafe' || 'e' || '́') AS nfc,
                banded_levenshtein('kitten', 'sitting', 2147483647) AS bl,
                unigram_encode('abc',
                  array(struct('ab', CAST(-1.0 AS DOUBLE)),
                        struct('a', -2.0), struct('b', -2.0),
                        struct('c', -3.0)))[0] AS ue,
                dedup_segments('x\nx\ny', '\n', '\n') AS ds
      """).head
    require(r6.getInt(0) == 2 && r6.getInt(1) == 0 &&
            r6.getString(2) == "cafe\u00e9" && r6.getInt(3) == 3 &&
            r6.getString(4) == "ab" && r6.getString(5) == "x\ny",
      s"round-6 extension functions misbehaved: $r6")
    println(s"extensions OK: ${names.size} functions resolve; $r / $r6")
    spark.stop()
  }
}

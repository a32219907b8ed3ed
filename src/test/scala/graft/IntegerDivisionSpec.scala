package graft

import graft.ext.TextAnalysis
import graft.functions.{div, floorDiv}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The library's one integer division: `div` truncates like Java's `/`,
  * `floorDiv` floors like `Math.floorDiv`, both exact for every long —
  * including numerators above 2^53, where a double quotient rounds.
  */
class IntegerDivisionSpec extends SparkSpecBase {
  import spark.implicits._

  private val p53 = (1L << 53) + 1
  private val numerators = Seq(p53, -p53, Long.MaxValue, Long.MinValue + 1,
    Long.MaxValue - 1, 1000000000000000007L, -7L, -1L, 0L, 1L, 7L)
  private val divisors = Seq(1L, 2L, 3L, 7L, 1000L, 1000000L, -1L, -3L, -1000L)

  test("floorDiv and div equal Math.floorDiv and Java / on long columns") {
    val cases = for (a <- numerators; b <- divisors) yield (a, b)
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), floorDiv(col("a"), col("b")).as("f"),
        div(col("a"), col("b")).as("t"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == cases.length)
    got.foreach { case (a, b, f, t) =>
      assert(f == Math.floorDiv(a, b), s"floorDiv($a, $b)")
      assert(t == a / b, s"div($a, $b)")
    }
  }

  test("floorDiv and div on int columns return exact longs") {
    val ints = Seq(Int.MaxValue, Int.MinValue + 1, -7, -1, 0, 7)
    val intDivisors = Seq(1, 2, 3, 7, -3)
    val cases = for (a <- ints; b <- intDivisors) yield (a, b)
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"), floorDiv(col("a"), col("b")).as("f"),
        div(col("a"), col("b")).as("t"))
    assert(df.schema("f").dataType == LongType)
    assert(df.schema("t").dataType == LongType)
    df.as[(Int, Int, Long, Long)].collect().foreach { case (a, b, f, t) =>
      assert(f == Math.floorDiv(a.toLong, b.toLong), s"floorDiv($a, $b)")
      assert(t == a.toLong / b, s"div($a, $b)")
    }
  }

  test("literals past 2^53 divide exactly where a double quotient rounds") {
    val r = spark.range(1).select(
      floorDiv(lit(p53), lit(1L)), floorDiv(lit(p53), lit(3L)),
      div(lit(-7L), lit(2L)), floorDiv(lit(-7L), lit(2L)),
      div(lit(-1L), lit(1000L)), floorDiv(lit(-1L), lit(1000L)))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(r == ((p53, 3002399751580331L, -3L, -4L, 0L, -1L)))
  }

  test("a double operand fails analysis instead of rounding") {
    intercept[AnalysisException] {
      spark.range(1).select(div(lit(7.5), lit(2L))).collect()
    }
    intercept[AnalysisException] {
      spark.range(1).select(floorDiv(lit(7L), lit(2.0))).collect()
    }
  }

  test("rrfFuse at 18-digit scale: the fused score is scale // (rank + c)") {
    // one list, one document at rank 1: rrf = 10^18 // 61 exactly (a
    // double quotient rounds it up by one)
    val scale = 1000000000000000000L
    val list = Seq(("q", "d", 1L)).toDF("query_id", "doc_id", "rank")
    val rrf = TextAnalysis.rrfFuse(Seq(list), k = 1, c = 60L, scale = scale)
      .select("rrf").as[Long].head()
    assert(rrf == scale / 61L)
    assert(rrf == 16393442622950819L)
  }

  test("src/main holds no local floor/trunc division helper and no " +
    "`- pmod(` idiom outside graft/functions") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val shared = root.resolve("graft/functions")
    val helper = """def\s+\w*(?i:floorDiv|truncDiv)\w*""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(shared))
      .toSeq
    assert(files.nonEmpty)
    val hits = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if helper.findFirstIn(line).isDefined || line.contains("- pmod(")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use graft.functions.{div, floorDiv}:\n" +
      hits.mkString("\n"))
  }
}

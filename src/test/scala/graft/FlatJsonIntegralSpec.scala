package graft

import graft.functions.JsonFunctions.flatJsonIntegral
import graft.functions.FlatJsonIntegral
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.JsonFunctions.flatJsonIntegral]] is exact: over edge
  * cases and seeded random JSON-ish strings it equals
  * `get_json_object(s, "$.k").cast(t)` (null-safe), for INT and BIGINT,
  * with the generated and the interpreted evaluation, and the byte scan
  * alone never decides a value the reference does not give.
  */
class FlatJsonIntegralSpec extends AnyFunSuite {
  import TestSpark._

  private val intMax = Int.MaxValue.toLong
  private val intMin = Int.MinValue.toLong
  private val longMax = BigInt(Long.MaxValue)
  private val longMin = BigInt(Long.MinValue)

  private val fixed: Seq[String] = Seq(
    """{"k":-0}""", """{"k":0}""", """{"k":012}""", """{"k":00}""", """{"k":-01}""",
    """{"k":1.5}""", """{"k":1e3}""", """{"k":1E3}""", """{"k":-}""", """{"k":+1}""",
    """{"k":null}""", """{"k":"7"}""", """{"k":true}""", """{"k":[1]}""", """{"k":{}}""",
    """{"k":1,"k":2}""", """{"k":1,"k":"2"}""", """{"a":{"k":1},"k":3}""",
    """{"a":[1,2],"k":3}""", """{"k":5,"s":"a\"b"}""", "{\"\\u006b\":5}",
    "{\"k\":5,\"s\":\"\\u00e9\"}", "{\"k\":5,\"s\":\"\u00e9\"}", "{\"\u00e9\":1,\"k\":5}",
    "{\"k\":5,\"s\":\"a\tb\"}", "{\"k\":5,\"s\":\"a\u0001b\"}", "{\"k\":5,\"s\":\"\u007f\"}",
    """{"k":5} x""", """{"k":5}}""", """{"k":5,}""", """{"k":5,,"a":1}""", """{"k":5""",
    """{"k":1 2}""", """{"k":1,"a":01}""", """{"a":1e400,"k":2}""", """{'k':1}""",
    """{k:1}""", """{"K":1}""", """{"k2":1}""", """{"kk":1,"k":4}""", """{"":1,"k":4}""",
    "[1]", "", " ", "{}", "{", "}", "null", "7", "\"k\"",
    "  {\"k\" : 42 }\n", " \t\r\n{\"k\":\n-3\r}\t", """{"k": 69}""",
    """{"k":1,"gate":"G7"}""", """{"gate":"G7","k":123}""",
    s"""{"a":${"9" * 1001},"k":1}""", s"""{"k":${"1" * 30}}""",
    s"""{"a":"${"x" * 40000}","k":1}""") ++
    Seq(intMax - 1, intMax, intMax + 1, intMin - 1, intMin, intMin + 1)
      .map(v => s"""{"k":$v}""") ++
    Seq(longMax - 1, longMax, longMax + 1, longMin - 1, longMin, longMin + 1)
      .map(v => s"""{"k":$v}""")

  /** Seeded strings from JSON-ish tokens. Half are flat objects of random
    * members: three in four of those drawn from tokens the scan accepts,
    * two in three of these with exactly one integer `k` among other names
    * (so many take the fast path, while duplicate or quoted `k`s still
    * occur), the rest from all tokens, and one in four of all with one
    * byte inserted, deleted or appended. The other half is token soup. */
  private def random(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    val cleanWs = IndexedSeq("", "", "", " ", "  ", "\t", "\n", "\r")
    val ws = cleanWs ++ IndexedSeq("\u000b", "\u00a0", "\u0000")
    val otherNames = IndexedSeq("a", "gate", "k2", "K", "kk", "_1")
    val cleanNames = "k" +: otherNames
    val names = cleanNames ++ IndexedSeq("", "k\\u0000", "\u00e9", "k ", "k\\\"")
    def int(): String = r.nextInt(8) match {
      case 0 => r.nextInt(100).toString
      case 1 => (-r.nextInt(100)).toString
      case 2 => r.nextLong().toString
      case 3 => pick(IndexedSeq(intMax, intMax + 1, intMin, intMin - 1)).toString
      case 4 => pick(IndexedSeq(longMax, longMax + 1, longMin, longMin - 1)).toString
      case 5 => "-0"
      case 6 => "0" + r.nextInt(10)
      case _ => r.nextInt(Int.MaxValue).toString
    }
    def value(clean: Boolean): String = r.nextInt(if (clean) 7 else 12) match {
      case 0 | 1 | 2 | 3 | 4 => int()
      case 5 => "\"G" + r.nextInt(40) + "\""
      case 6 => "\"" + int() + "\""
      case 7 => pick(IndexedSeq("1.5", "-2.0", "1e3", "3E-1", "0.0"))
      case 8 => pick(IndexedSeq("null", "true", "false", "[]", "[1]", "{}", "{\"k\":1}"))
      case 9 => pick(IndexedSeq("\"a\\\"b\"", "\"\\u0041\"", "\"\u00e9\"", "\"a\tb\"", "\"'\""))
      case _ => "\"\""
    }
    val soup = IndexedSeq("{", "}", "[", "]", ":", ",", "\"k\"", "\"a\"", "1", "-1", "0",
      "01", "1.5", "e3", "\"x\"", "null", " ", "\\", "\"", "'k'", "\u00e9", "9223372036854775808")
    def mutate(s: String): String = {
      val i = r.nextInt(s.length + 1)
      val c = pick(IndexedSeq("{", "}", "\"", ",", ":", "0", "-", ".", "\\", " ", "x"))
      r.nextInt(3) match {
        case 0 => s.patch(i, c, 0)
        case 1 => if (s.isEmpty) s else s.patch(i min (s.length - 1), "", 1)
        case _ => s + c
      }
    }
    Seq.fill(n) {
      if (r.nextBoolean()) {
        val clean = r.nextInt(4) != 0
        def w() = pick(if (clean) cleanWs else ws)
        def member(name: String, v: String) = w() + "\"" + name + "\"" + w() + ":" + w() + v + w()
        val members =
          if (clean && r.nextInt(3) != 0) {
            val others = Seq.fill(r.nextInt(4))(member(pick(otherNames), value(clean)))
            others.patch(r.nextInt(others.size + 1), Seq(member("k", int())), 0)
          } else Seq.fill(1 + r.nextInt(4))(
            member(pick(if (clean) cleanNames else names), value(clean)))
        val s = w() + "{" + members.mkString(",") + "}" + w()
        if (r.nextInt(4) == 0) mutate(s) else s
      } else Seq.fill(1 + r.nextInt(12))(pick(soup)).mkString
    }
  }

  private lazy val strings: DataFrame = {
    import spark.implicits._
    // An RDD, not a local relation: the optimizer would otherwise fold the
    // expressions over the literal rows with the interpreted path.
    spark.sparkContext.parallelize(
      (fixed ++ random(120000, 20261019)).map(Option(_)) :+ None, 4).toDF("s")
  }

  private def fast(t: DataType): Column =
    GraftColumnBridge.column(FlatJsonIntegral(GraftColumnBridge.expression(col("s")), "k", t))
  private def reference(t: DataType): Column = get_json_object(col("s"), "$.k").cast(t)
  private def tryReference(t: DataType): Column =
    expr(s"try_cast(get_json_object(s, '$$.k') as ${t.sql})")

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.sessionState.conf
    val prev = pairs.map { case (k, _) => k -> (if (conf.contains(k)) Some(spark.conf.get(k)) else None) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
                        "spark.sql.codegen.wholeStage" -> "false"))

  private def examples(df: DataFrame, t: DataType): String =
    df.select(col("s"), fast(t).as("fast"), tryReference(t).as("reference"))
      .limit(5).collect().mkString("; ")

  for ((mode, confs) <- modes; t <- Seq(IntegerType, LongType)) {
    test(s"equals get_json_object(..).cast(${t.sql}) with ANSI off ($mode)") {
      withConf(confs :+ ("spark.sql.ansi.enabled" -> "false"): _*) {
        val bad = strings.filter(!(flatJsonIntegral(col("s"), "k", t) <=> reference(t)))
        assert(bad.count() == 0, examples(bad, t))
      }
    }

    test(s"the fast path decides only what try_cast of the reference gives, ANSI on ($mode, ${t.sql})") {
      withConf(confs :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
        val decided = strings.filter(fast(t).isNotNull)
        val wrong = decided.filter(!(fast(t) <=> tryReference(t)))
        assert(wrong.count() == 0, examples(wrong, t))
        // The scan must carry the common case, not hand everything back.
        assert(decided.count() > 10000, decided.count())
        // Rows the reference answers without a cast error: the helper
        // gives the same answer under ANSI too.
        val answered = strings.filter(get_json_object(col("s"), "$.k").isNull ||
          tryReference(t).isNotNull)
        val bad = answered.filter(!(flatJsonIntegral(col("s"), "k", t) <=> reference(t)))
        assert(bad.count() == 0, examples(bad, t))
      }
    }

    test(s"a malformed k still raises CAST_INVALID_INPUT under ANSI ($mode, ${t.sql})") {
      import spark.implicits._
      withConf(confs :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
        val df = spark.sparkContext.parallelize(Seq("""{"k":1.5}"""), 1).toDF("s")
        val e = intercept[Exception](df.select(flatJsonIntegral(col("s"), "k", t)).collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(x => String.valueOf(x.getMessage).contains("CAST_INVALID_INPUT")), e)
      }
    }
  }

  test("the scan reads the fixture's props through the fast path") {
    // Every sf fixture row is `{"k": <int>}`: none may need the fallback.
    val props = graft.Tables.events(spark, Sf).select(col("props").as("s"))
    assert(props.filter(fast(IntegerType).isNull).count() == 0)
    assert(props.filter(!(fast(IntegerType) <=> reference(IntegerType))).count() == 0)
  }
}

package graft

import graft.operators.Profile
import org.apache.spark.sql.functions.{col, log}

/** The oracle-SQL mirrors in [[Num]] must compute the same double as the
  * Column formulas they mirror once spliced into a larger expression.
  */
class NumSpec extends SparkSpec {

  test("sqlRoundD spliced into a product evaluates like roundD (q132's PSI term)") {
    import spark.implicits._
    val fragment = Num.sqlRoundD(s"(p - g) * ${Num.sqlRoundD("LN(p / g)", 6)}", 6)
    assert(Profile.q132Sql.contains(fragment), "the fragment under test is q132's")
    val column = Num.roundD((col("p") - col("g")) * Num.roundD(log(col("p") / col("g")), 6), 6)
    // p = 0.16, g = 0.19 is a generated seed-7 bin whose term differed by
    // one ulp before the fragment was parenthesized; the rest are seeded
    // 6dp shares like the ones q132 forms
    val rnd = new scala.util.Random(7)
    def share(): Double = math.max(1e-4, math.floor(rnd.nextDouble() * 1e6) / 1e6)
    val pg = (0.16, 0.19) +: Seq.fill(500)((share(), share()))
    val df = pg.toDF("p", "g")
    val viaSql = df.selectExpr(fragment).collect().map(_.getDouble(0))
    val viaColumn = df.select(column).collect().map(_.getDouble(0))
    assert(viaSql.head == viaColumn.head, s"${viaSql.head} vs ${viaColumn.head}")
    val diffs = pg.zip(viaSql.zip(viaColumn)).filter { case (_, (a, b)) => a != b }
    assert(diffs.isEmpty, diffs.take(5).mkString(", "))
  }
}

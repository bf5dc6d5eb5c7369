package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Terminal SQL front-end — the WORKING form of the reference's `fsql`
  * (flock-cli/src/fsql.rs:29-71; the reference ships it as a shell whose
  * exec_and_print prints "CLI is under construction"). The shell
  * semantics are the reference's exactly — statements accumulate across
  * lines until one ends with ';' (fsql.rs:41-53), `quit`/`exit` leaves
  * only when no statement is open (fsql.rs:63-66), a failed statement
  * prints its error and the loop continues — but statements here really
  * execute: the TESTDATA parquet tables (plus derived views) and the
  * deterministic NEXMark/YSB generator tables are registered as temp
  * views and every statement runs through spark.sql.
  *
  * Usage: sbt "runMain graft.Fsql [sfDir] [maxRows]"   (then type SQL)
  */
object Fsql {
  private[graft] def isExit(line: String): Boolean = {
    // Trailing-only trim, as the reference (fsql.rs is_exit_command
    // strips only the end-of-line whitespace): "  exit" is accumulated
    // as SQL text there, so it must be here too.
    val l = line.replaceAll("\\s+$", "").toLowerCase
    l == "quit" || l == "exit"
  }

  /** Plain-text rendering (df.show writes straight to stdout, which a
    * test cannot capture; this returns the string instead).
    */
  private[graft] def render(df: DataFrame, maxRows: Int): String = {
    val rows = df.take(maxRows + 1)
    val shown = rows.take(maxRows)
    val body = shown.map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    }.mkString("\t"))
    val trailer =
      if (rows.length > maxRows) s"(first $maxRows rows)"
      else s"(${shown.length} rows)"
    (df.columns.mkString("\t") +: body :+ trailer).mkString("\n")
  }

  /** The accumulate-until-';' shell over an arbitrary line source.
    * Returns when the input ends or an exit command arrives outside an
    * open statement (an `exit` MID-statement is part of the SQL, as in
    * the reference).
    */
  private[graft] def runLines(spark: SparkSession, lines: Iterator[String],
      print: String => Unit, maxRows: Int = 20): Unit = {
    val query = new StringBuilder
    var done = false
    while (!done && lines.hasNext) {
      val line = lines.next()
      if (isExit(line) && query.isEmpty) done = true
      else if (line.trim.endsWith(";")) {
        query.append(line.trim.stripSuffix(";"))
        try print(render(spark.sql(query.toString), maxRows))
        catch { case scala.util.control.NonFatal(e) =>
          print(s"error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" | ")}")
        }
        query.clear()
      } else {
        query.append(line).append(' ')
      }
    }
  }

  /** Register everything a reference user could query: TESTDATA + derived
    * views (Tables.registerAll) and the generator tables the NEXMark/YSB
    * suites run against.
    */
  private[graft] def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Tables.registerAll(spark, sfDir)
    val n = operators.NexmarkBatch.N
    Seq(
      "bids" -> streaming.Nexmark.bids(spark, n),
      "auctions" -> streaming.Nexmark.auctions(spark, n),
      "persons" -> streaming.Nexmark.persons(spark, n),
      "side_input" -> streaming.Nexmark.sideInput(spark),
      "ad_events" -> streaming.Ysb.adEvents(spark, n),
      "campaigns" -> streaming.Ysb.campaigns(spark)
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val maxRows = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = Session.local("graft-fsql", "local[*]", 32,
      "spark.sql.adaptive.enabled" -> "true")
    plans.TopK.installRewrite(spark)
    registerViews(spark, sfDir)
    println(s"graft fsql - tables from $sfDir + NEXMark/YSB generators;")
    println("end statements with ';', quit/exit to leave")
    runLines(spark, scala.io.Source.stdin.getLines(), println(_), maxRows)
    spark.stop()
  }
}

package graft

/** Plan-hygiene audit: prints the formatted physical plan for the named
  * catalog queries (all of them with no args) plus a one-line summary of
  * scan pushdown, broadcast vs shuffle joins, and exchange count — the
  * things that decide whether a plan survives a 100× scale-up.
  *
  * Run: sbt "runMain graft.Explain [sfDir] [query ...]"
  *
  * GRAFT_EXPLAIN_AQE=1 flips to the runtime view: AQE on, the query is
  * EXECUTED (noop sink), and the FINAL adaptive plan is summarized —
  * adding AQEShuffleRead / coalesced / skew-split counts, the runtime
  * re-planning the static audit cannot see.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Catalog.byName.keys.toSeq.sorted
    val aqe = sys.env.get("GRAFT_EXPLAIN_AQE").contains("1")
    val spark = Session.local("graft-explain", "local[4]", 32,
      // AQE off by default HERE only: under AdaptiveSparkPlan the printed
      // plan is the pre-execution skeleton — codegen collapse happens
      // per-stage at runtime, so WholeStageCodegen spans (and final join
      // picks) are invisible. The static audit wants the static plan;
      // GRAFT_EXPLAIN_AQE=1 executes and reads the final adaptive plan
      // instead (Bench always runs AQE on).
      "spark.sql.adaptive.enabled" -> aqe.toString)

    val verbose = sys.env.get("GRAFT_EXPLAIN_FULL").contains("1")
    for (n <- names; q <- Catalog.byName.get(n)) {
      val df = q.run(spark, sfDir)
      // Execute THIS df's own query execution (a noop write would plan a
      // separate query and leave this plan un-adapted), so the final
      // adaptive plan — with its runtime coalesce/skew decisions — is
      // what gets summarized.
      if (aqe) df.queryExecution.toRdd.foreach(_ => ())
      val executed = df.queryExecution.executedPlan
      // After execution AdaptiveSparkPlanExec.toString prints BOTH
      // "== Final Plan ==" and "== Initial Plan ==" sections; counting the
      // raw string would double every stat, so keep only the final section.
      val full = executed.toString()
      val plan = full.indexOf("== Final Plan ==") match {
        case -1 => full
        case i =>
          val end = full.indexOf("== Initial Plan ==", i)
          if (end == -1) full.substring(i) else full.substring(i, end)
      }
      def count(p: String) = plan.sliding(p.length).count(_ == p)
      // Non-AQE: WholeStageCodegenExec nodes are reachable on the plan tree
      // (the STRING renders them only as a `*(n)` operator prefix). AQE:
      // AdaptiveSparkPlanExec and the QueryStageExec nodes are leaves, so
      // the tree collect sees nothing — count distinct `*(n)` codegen ids
      // in the final-plan string instead.
      val wscg =
        if (aqe) "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        else executed.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.size
      val base = Seq(
        "scans" -> count("FileScan"),
        "pushedFilters" -> count("PushedFilters: ["),
        "bcastJoins" -> count("BroadcastHashJoin"),
        "smJoins" -> count("SortMergeJoin"),
        "exchanges" -> count("Exchange"),
        "bcastExchanges" -> count("BroadcastExchange"),
        "wscg" -> wscg,
        "udfs" -> count("BatchEvalPython"))
      val aqeCols = if (!aqe) Nil else Seq(
        "aqeReads" -> count("AQEShuffleRead"),
        "coalesced" -> count("coalesced"),
        "skewSplit" -> count("skew=true"))
      val summary = (base ++ aqeCols)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(s"== $n: $summary")
      if (verbose) {
        df.explain("formatted")
        println()
      }
    }
    spark.stop()
  }
}

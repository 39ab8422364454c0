package graft

/** The plan-shape regression gate (see [[PlanAudit]]): every inventory
  * query's physical plan must compile, contain no CartesianProduct, and no
  * BroadcastNestedLoopJoin outside the documented allowlist. Plans are
  * compiled (not executed) at sf0.001, which is enough to expose join
  * strategy and exchange shape.
  */
class PlanAuditSpec extends SparkSpec {

  test("no inventory plan has a cartesian product or unannounced BNLJ") {
    MemoLedger.drain()
    val audits = PlanAudit.auditAll(spark, sf)
    // Each memo build plan is audited under its artifact's one name: the
    // audit label is "memo:" + the key the ledger recorded for the build.
    val built = MemoLedger.drain().map("memo:" + _.artifact).toSet
    audits.map(_.name).filter(_.startsWith("memo:")).foreach { n =>
      assert(built(n), s"$n is not the name of a ledgered memo build")
    }
    assert(audits.count(a => !a.name.startsWith("memo:") &&
      !a.name.startsWith("view:")) == SparkEntry.queries.size)
    // The memo plan hook must have produced build-plan audits of its own
    // (the order-independent coverage of the one-time kernel builds).
    assert(audits.exists(_.name.startsWith("memo:")),
      "no memo build plans were audited — is the plan hook installed?")
    // And the maintained release view's per-batch plans (foreachBatch runs
    // OUTSIDE the inventory — round 15's audit gap): the fold and report
    // legs of BOTH driven batches (bootstrap @b0 and the incremental
    // steady state @b1 — different plan shapes, each audited), plus the
    // LSM latest-wins reconstruction, which only exists on the
    // incremental batch.
    Seq("view:release_fold@b0", "view:release_report@b0",
        "view:release_fold@b1", "view:release_report@b1",
        "view:release_reconstruct@b1").foreach { n =>
      assert(audits.exists(_.name == n),
        s"$n missing — were the maintenance batches driven?")
    }
    val v = PlanAudit.violations(audits)
    assert(v.isEmpty, "plan violations:\n" + v.mkString("\n") + "\n\n" +
      audits.map(_.line).mkString("\n"))
  }

  test("gate catches a broadcast hint over a corpus-derived relation (the d09/t13 class)") {
    import org.apache.spark.sql.functions._
    // The round-4 anti-pattern, reconstructed: hint-broadcast an aggregate
    // derived from the full documents scan. Must fail the gate.
    val bad = PlanAudit.auditOne(spark, sf, "bad_query", (s, d) => {
      val docs = graft.sources.Tables.documents(s, d)
      val model = docs
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      docs.join(broadcast(model), expr("text LIKE concat('%', w, '%')"))
    })
    assert(bad.corpusHinted == Set("documents"), bad.line)
    val v = PlanAudit.violations(Seq(bad))
    assert(v.exists(_.contains("broadcast HINT over corpus-scale table(s) documents")),
      v.mkString("\n"))
    // A dimension broadcast over the same shape is NOT flagged.
    val dim = PlanAudit.auditOne(spark, sf, "dim_query", (s, d) =>
      graft.sources.Tables.orders(s, d)
        .join(broadcast(graft.sources.Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey")))
    assert(dim.corpusHinted.isEmpty, dim.line)
  }
}

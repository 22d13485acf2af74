package graft.tools

/** Physical-plan shape fingerprint: operator counts that a perf
  * refactor must not silently change. Shared by the `Prof fingerprint`
  * generator and PlanFingerprintSpec so the counting rules can't drift
  * from the pins.
  *
  * Counted from `executedPlan.toString` (pre-execution, deterministic
  * for a fixed input + shuffle-partition config). An adaptive plan
  * that has moved past its initial form prints both its current ("Final
  * Plan"/"Current Plan") and its "Initial Plan" sections — a cached
  * relation's materialized plan always does — so the "Initial Plan"
  * sections are skipped and each exchange counts once:
  *  - `shuffles`: hash/range/single-partition Exchanges — each is a
  *    full shuffle of its input; the number a refactor most easily
  *    regresses.
  *  - `broadcasts`: BroadcastExchanges — dims/scalars shipped to every
  *    executor; one of these BECOMING a shuffle is the classic silent
  *    join-strategy regression.
  *  - `scans` / `rddScans`: parquet file scans vs checkpoint-staged
  *    relations — a scan count going UP means a relation stopped being
  *    staged once.
  *  - `windows`, `sortMergeJoins`: whole-relation sorts hiding in a
  *    refactor.
  */
object PlanFingerprint {
  final case class Fp(shuffles: Int, broadcasts: Int, scans: Int,
                      rddScans: Int, windows: Int, sortMergeJoins: Int) {
    override def toString: String =
      s"Fp($shuffles, $broadcasts, $scans, $rddScans, $windows, $sortMergeJoins)"
  }

  def of(plan0: String): Fp = {
    val plan = withoutInitialPlans(plan0)
    def n(sub: String): Int = {
      var c = 0; var i = plan.indexOf(sub)
      while (i >= 0) { c += 1; i = plan.indexOf(sub, i + 1) }
      c
    }
    Fp(
      shuffles = n("Exchange hashpartitioning") +
        n("Exchange rangepartitioning") + n("Exchange SinglePartition"),
      broadcasts = n("BroadcastExchange"),
      // "FileScan parquet" contains "Scan parquet" — counts both forms
      scans = n("Scan parquet"),
      rddScans = n("Scan ExistingRDD"),
      windows = n("Window ["),
      sortMergeJoins = n("SortMergeJoin"))
  }

  /** `plan` without the lines under each "+- == Initial Plan ==" header:
    * the header is its node's last child, so its section is every
    * following line that is blank in the header's three tree columns. */
  private def withoutInitialPlans(plan: String): String = {
    val out = new StringBuilder
    var skipCol = -1
    plan.linesIterator.foreach { line =>
      if (skipCol >= 0 && !(line.length > skipCol + 3 &&
          line.substring(skipCol, skipCol + 3).isBlank)) skipCol = -1
      if (skipCol < 0) {
        val h = line.indexOf("+- == Initial Plan ==")
        if (h >= 0) skipCol = h else out.append(line).append('\n')
      }
    }
    out.toString
  }
}

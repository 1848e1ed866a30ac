package graft.tools

/** The weak-scaling REGRESSION GATE: re-measures the pinned heavy-query
  * set ([[ScaleBench.measure]], default 2× disjoint-key replicas) and
  * fails — nonzero exit via exception — when any measured exponent
  * exceeds its committed bound in `SCALE_BOUNDS.json` (pinned SCALE.md
  * §7i exponent, floored at 0, plus a shared noise margin). The one-shot
  * §7i table proved the plans linear ONCE; this makes that property
  * re-checkable, so a change that re-introduces a quadratic (an all-pairs
  * frame, a data-sized window) fails a command instead of surviving until
  * the next hand audit. A quadratic reads exponent ≈ 2 at any factor —
  * far above every bound + margin (max in the committed bounds: 0.85
  * + 0.5 = 1.35, `ts_pair_corr`) — while factor-2 timing
  * noise stays inside the margin (+30% ratio wobble ≈ +0.38 exponent).
  *
  * Usage: `sbt "runMain graft.tools.ScaleGate [sfDir] [factor] [outRoot] [boundsPath]"`
  *   defaults: /root/testdata/sf0.01, 4, /tmp/graft_scale_gate, SCALE_BOUNDS.json
  *
  * Factor 4, not 2: the exponent divides by ln(factor), so the box's
  * wall-clock wobble (measured: a one-off +0.8 s on a 1.4 s query across
  * both reps = ratio 1.6) reads 0.68 exponent at factor 2 — indistinguishable
  * from a real super-linearity — but 0.34 at factor 4, well inside every
  * margin. Three timed reps (min) on top reject single-rep spikes. Run
  * EXCLUSIVELY: a concurrent sbt/Spark JVM inflates random queries.
  *
  * ScaleGateSpec covers the verdict logic (synthetic rows) inside
  * `sbt test`; the full measurement run is this main (or the spec's
  * SPARK_GRAFT_SCALEGATE=1 end-to-end variant).
  */
object ScaleGate {

  case class Bounds(margin: Double, perQuery: Map[String, Double],
      recCap: Double = DefaultRecCap)

  /** Global cap on the SHUFFLE-RECORD exponent — the deterministic
    * signal: records are data-determined, so no noise margin is needed
    * and one cap covers every query. Linear plans read ≤ 1 (disjoint-key
    * replicas grow every shuffle at most linearly), NDV-bounded plans
    * less; an all-pairs frame feeding any shuffle reads ≈ 2. The 1.3
    * default absorbs mild super-linearity from AQE partition decisions
    * and replica-boundary effects, nothing more. NOTE: the committed
    * `SCALE_BOUNDS.json` overrides this to 1.45 — `x_triangles` measures
    * a stable 1.27 and regenerated-testdata density drift needs headroom
    * above it (commit 8be6954); the default here is the floor a bounds
    * file without an explicit `rec_cap` falls back to, not the value the
    * gate actually runs with.
    */
  val DefaultRecCap = 1.3

  /** The cap applies only when the 1× run shuffles at least this many
    * records. Below it, the count is partial-agg OUTPUT on a tiny-NDV
    * frame — `partitions × NDV`, which tracks FILE COUNT, not data
    * (measured: `p_quality_lr`, one groupBy over a handful of sources,
    * reads 40→636 records purely because the 4× replica has more input
    * splits — exponent 2.0 with zero data-scale meaning). A genuine
    * data-scale quadratic always has data-scale rec1, far above this
    * floor; quadratics on BOUNDED frames (the bhFdr pattern) are design
    * choices the wall gate and PlanAudit govern, not this cap. The
    * exemption is one-sided: a K× run whose recK reaches floor×factor
    * re-arms the gate regardless of rec1 (see [[violations]]), so a plan
    * that grows a data-scale shuffle from nothing cannot hide under it.
    */
  val DefaultRecFloor = 2048L

  /** Parse SCALE_BOUNDS.json — flat {"margin":x,"rec_cap":z,"bounds":{"q":y,...}},
    * hand-parsed (no JSON lib on the zero-egress classpath); tolerant of
    * whitespace/order, strict about the two required fields (`rec_cap`
    * is optional, defaulting to [[DefaultRecCap]]).
    */
  def parseBounds(json: String): Bounds = {
    val margin = """"margin"\s*:\s*(-?[0-9.]+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toDouble)
      .getOrElse(throw new IllegalArgumentException("SCALE_BOUNDS.json: no margin"))
    val recCap = """"rec_cap"\s*:\s*(-?[0-9.]+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toDouble).getOrElse(DefaultRecCap)
    val boundsBlock = """"bounds"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("SCALE_BOUNDS.json: no bounds"))
    val perQuery = """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(boundsBlock)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    if (perQuery.isEmpty)
      throw new IllegalArgumentException("SCALE_BOUNDS.json: empty bounds")
    Bounds(margin, perQuery, recCap)
  }

  /** The verdict: queries whose WALL exponent exceeds max(pinned, 0) +
    * margin, or whose RECORD exponent exceeds the global cap (reason in
    * the returned string). Pure — spec-tested with synthetic rows.
    *
    * The record gate applies when EITHER side of the two-point pair is
    * data-scale: `rec1 >= floor` is the usual case, but a plan that GROWS
    * a shuffle from (near) nothing — rec1 = 0, recExp = ∞, or a tiny rec1
    * under a data-scale recK — must not slip through the partitions×NDV
    * floor exemption, so `recK >= floor × factor` re-arms the gate (at
    * linear growth a floor-sized rec1 reaches exactly floor×factor; a
    * sub-floor rec1 reaching it is super-linear by construction).
    */
  def violations(rows: Seq[ScaleBench.Row], b: Bounds,
      factor: Int = 4): Seq[(ScaleBench.Row, String)] =
    rows.flatMap { r =>
      b.perQuery.get(r.name).flatMap { p =>
        val bound = math.max(p, 0.0) + b.margin
        val recArmed = r.rec1 >= DefaultRecFloor ||
          r.recK >= DefaultRecFloor * factor
        if (r.exp > bound)
          Some((r, f"wall exp=${r.exp}%.2f > bound=$bound%.2f"))
        else if (recArmed && r.recExp > b.recCap)
          Some((r, f"shuffle-record exp=${r.recExp}%.2f > cap=${b.recCap}%.2f (rec ${r.rec1}->${r.recK})"))
        else None
      }
    }

  /** The artifact/bounds sync state the divergence sentinel reports (see
    * ScaleGateSpec): round 17 used the RED test itself as the "re-stamp
    * pending" banner — eighteen steal-window refusals meant the honest
    * state was "bounds pinned, artifact awaits a quiet gate run" — but a
    * permanently red suite masks any NEW regression introduced meanwhile.
    * A committed `RESTAMP_PENDING` marker file (the json-only query keys
    * awaiting an artifact row, one per line, `#` comments for the reason)
    * turns exactly that declared divergence into a CANCELED test with the
    * reason in the output; every undeclared divergence — including a
    * STALE marker after the artifact ships, or an artifact-only key the
    * marker cannot explain — stays red. So red again unambiguously means
    * a real, unacknowledged divergence.
    */
  sealed trait RestampState
  case object InSync extends RestampState
  final case class Pending(reason: String) extends RestampState
  final case class Diverged(reason: String) extends RestampState

  /** Parse a RESTAMP_PENDING marker body: one pending query key per
    * line, blank lines and `#` comments ignored. Pure — spec-tested.
    */
  def pendingKeys(marker: String): Set[String] =
    marker.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .toSet

  /** Adjudicate artifact coverage vs committed bounds coverage under an
    * optional marker. Pure — spec-tested in Round18OpsSpec on all five
    * branches (in-sync, stale marker, declared pending, undeclared
    * json-only, artifact-only).
    */
  def restampState(artifactKeys: Set[String], jsonKeys: Set[String],
      marker: Option[String]): RestampState = {
    val jsonOnly = jsonKeys -- artifactKeys
    val artifactOnly = artifactKeys -- jsonKeys
    if (jsonOnly.isEmpty && artifactOnly.isEmpty)
      marker match {
        case Some(_) => Diverged("artifact and SCALE_BOUNDS.json agree but a " +
          "RESTAMP_PENDING marker is still committed — remove the stale marker")
        case None => InSync
      }
    else marker.map(pendingKeys) match {
      case Some(pend) if artifactOnly.isEmpty && jsonOnly == pend =>
        Pending(s"re-stamp pending (declared in RESTAMP_PENDING): bounds pinned " +
          s"for ${jsonOnly.toSeq.sorted.mkString(", ")} await a quiet-window " +
          "gate artifact — run ScaleGate on a quiet box and commit its output")
      case _ =>
        Diverged(s"artifact/JSON coverage mismatch: artifact-only=$artifactOnly, " +
          s"json-only=$jsonOnly" + marker.map(m => s" (RESTAMP_PENDING declares " +
            s"${pendingKeys(m)} — does not match)").getOrElse(
            " (no RESTAMP_PENDING marker declares this)"))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factor = if (args.length > 1) args(1).toInt else 4
    val outRoot = if (args.length > 2) args(2) else "/tmp/graft_scale_gate"
    val boundsPath = if (args.length > 3) args(3) else "SCALE_BOUNDS.json"
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt.max(1)
    val bounds = parseBounds(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(boundsPath)), "UTF-8"))
    val spark = ScaleBench.session()
    // the record exponents are load-immune, but the WALL exponents are
    // not: abort on a loaded box (one cooldown retry, distinct verdict)
    // instead of recording a phantom super-linearity, and stamp the quiet
    // canary into the artifact
    val (canary, rows) =
      try {
        val c = BoxCanary.requireQuiet(spark, "scalegate")
        (c, ScaleBench.measure(spark, sfDir, factor, outRoot,
          bounds.perQuery.keys.toSeq.sorted, reps))
      } finally spark.stop()
    println(f"[scalegate] box canary $canary%.3f s (quiet)")
    // no "exp=" on this line, so the artifact's row parser skips it
    println(s"[scalegate] ran at SPARK_GRAFT_CPUS=${ScaleBench.cpus}")
    val bad = violations(rows, bounds, factor)
    val badNames = bad.map(_._1.name).toSet
    rows.foreach { r =>
      val bound = math.max(bounds.perQuery(r.name), 0.0) + bounds.margin
      val mark = if (badNames(r.name)) "VIOLATION" else "ok"
      println(f"[scalegate] ${r.name}%-20s exp=${r.exp}%6.2f bound=$bound%5.2f  " +
        f"rec_exp=${r.recExp}%6.2f cap=${bounds.recCap}%4.2f  $mark")
    }
    if (bad.nonEmpty)
      throw new RuntimeException(
        s"scale gate FAILED: ${bad.map { case (r, why) => s"${r.name}: $why" }.mkString("; ")}")
    println(s"[scalegate] PASS: ${rows.size} queries within bounds (factor=$factor, $sfDir)")
  }
}

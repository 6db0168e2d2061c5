package graft.covsonar

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Arguments of the flagship `match` query (reference: sonar.py match
  * subcommand + sonarDB.match, lib/sonardb.py:3133-3486).
  *
  * `profiles`/`excludeProfiles` are groups of variant tokens: tokens within a
  * group are AND-linked, groups are OR-linked. Metadata lists accept the
  * reference's `^`-prefix negation. `frameshifts` is the tri-state
  * -1 (none) / 0 (ignore) / +1 (required).
  */
final case class MatchArgs(
    profiles: Seq[Seq[String]] = Nil,
    excludeProfiles: Seq[Seq[String]] = Nil,
    accessions: Seq[String] = Nil,
    lineages: Seq[String] = Nil,
    withSublineage: Boolean = false,
    zips: Seq[String] = Nil,
    dates: Seq[String] = Nil,
    submissionDates: Seq[String] = Nil,
    labs: Seq[String] = Nil,
    sources: Seq[String] = Nil,
    collections: Seq[String] = Nil,
    technologies: Seq[String] = Nil,
    platforms: Seq[String] = Nil,
    chemistries: Seq[String] = Nil,
    materials: Seq[String] = Nil,
    software: Option[String] = None,
    softwareVersion: Option[String] = None,
    minCt: Option[Double] = None,
    maxCt: Option[Double] = None,
    seqhashes: Seq[String] = Nil,
    ambig: Boolean = false,
    frameshifts: Int = 0) {

  /** CLI-side normalization (sonar.py:1048-1087): date format validation +
    * upper-casing of the categorical fields (accession, zip, date and
    * seqhash stay verbatim).
    */
  def normalized: MatchArgs = {
    val dateRe = "^[0-9]{4}-[0-9]{2}-[0-9]{2}(?::[0-9]{4}-[0-9]{2}-[0-9]{2})?$".r
    (dates ++ submissionDates).foreach { d0 =>
      val d = if (d0.startsWith("^")) d0.substring(1) else d0
      require(dateRe.matches(d), s"input error: $d is not a valid date (YYYY-MM-DD) " +
        "or time span (YYYY-MM-DD:YYYY-MM-DD).")
    }
    copy(
      lineages = lineages.map(_.toUpperCase),
      labs = labs.map(_.toUpperCase),
      sources = sources.map(_.toUpperCase),
      collections = collections.map(_.toUpperCase),
      technologies = technologies.map(_.toUpperCase),
      platforms = platforms.map(_.toUpperCase),
      chemistries = chemistries.map(_.toUpperCase),
      materials = materials.map(_.toUpperCase),
      software = software.map(_.toUpperCase),
      softwareVersion = softwareVersion.map(_.toUpperCase))
  }
}

/** The physical plan tier a `match` runs and why it was chosen.
  *
  * `tier` is [[MatchPlan.InPushdown]] (carrier IN-list pushed into both
  * scans), [[MatchPlan.SemiJoin]] (carrier broadcast semi-join) or
  * [[MatchPlan.FullScan]] (the whole essence join). `carriers` is the
  * carrier-superset size on the two index tiers. `reason` is
  * [[MatchPlan.Indexed]] on the index tiers; on the full scan it names the
  * bail-out that declined the index.
  */
final case class MatchPlan(tier: String, carriers: Option[Int], reason: String) {
  override def toString: String =
    s"tier=$tier reason=$reason carriers=${carriers.fold("-")(_.toString)}"
}

object MatchPlan {
  val InPushdown = "in_pushdown"
  val SemiJoin = "semi_join"
  val FullScan = "full_scan"

  val Indexed = "indexed"
  /** The query has no include profile to prune on. */
  val NoIncludeProfile = "no_include_profile"
  /** `profile` is smaller than [[SonarStore.IndexMinProfileBytes]]. */
  val BelowFloor = "below_floor"
  /** The token index is stale or absent. */
  val NoFreshIndex = "no_fresh_index"
  /** Every cover of some include group touches a hot token. */
  val HotToken = "hot_token"
  /** The carrier bound exceeds the carrier cap. */
  val OverCap = "over_cap"
  /** The caller passed carrier cap 0: the index is not consulted. */
  val IndexOff = "index_off"
}

/** The `match` query builder — covSonar's flagship operation re-expressed as
  * one declarative DataFrame plan over `essence`:
  *
  *   driver-side semantic expansions (R1-R6) → a single `Column` predicate
  *   conjunction (P1-P7) → Catalyst pushes the metadata equality/range
  *   predicates into the parquet scan of `genome`, and the profile-membership
  *   predicates become codegen'd `array_contains` filters above the
  *   genome⋈profile join — no LIKE scans, no per-row SQL.
  *
  * At scale the only shuffle in this plan is the essence join itself; a
  * pure-metadata query prunes the `profile` columns and Catalyst drops the
  * join side entirely when its columns are unused (count mode).
  */
object SonarMatch {

  // ---- variant-token grammar (reference: lib/sonardb.py:2242-2286) ----

  private val ntClass = "[ACGTRYSWKMBDHVN]"
  private def aaClass = {
    // iupac_aa_code keys with '-' removed then "*~-" appended (lib/sonardb.py:2265-2268)
    val letters = Genetics.iupacAa.keySet.filterNot(_ == '-').mkString
    "[" + letters.replace("\\", "\\\\") + "*~-]"
  }
  private def symbolAlt: String =
    "(?:" + Reference.sarsCov2.cds.map(c => java.util.regex.Pattern.quote(c.symbol))
      .distinct.mkString("|") + ")"

  lazy val dnaVarRegex = ("^(?:(?:del:[0-9]+:[0-9]+)|(?:" + ntClass + "[0-9]+" +
    ntClass + "+))$").r
  lazy val aaVarRegex = ("^" + symbolAlt + ":(?:(?:del:[0-9]+:[0-9]+)|(?:" + aaClass +
    "[0-9]+" + aaClass + "+))$").r

  def isDnaVar(v: String): Boolean = dnaVarRegex.matches(v)
  def isAaVar(v: String): Boolean = aaVarRegex.matches(v)

  // ---- R2: ambiguity pinpointing (reference: pinpoint_mutation, 3034-3084) ----

  /** Expand the terminal [A-Z] letter of a variant through the given IUPAC
    * code table; the original token is always part of the result set.
    */
  def pinpointMutation(mutation: String, code: Map[Char, Set[Char]]): Set[String] = {
    if (mutation.isEmpty) return Set(mutation)
    val last = mutation.last
    if (!last.isUpper || !last.isLetter || last > 'Z') Set(mutation)
    else code.get(last) match {
      case None => Set(mutation)
      case Some(opts) =>
        val stem = mutation.dropRight(1)
        opts.map(stem + _) + mutation
    }
  }

  /** R3: a trailing N (dna) / X (aa) token additionally contributes each of
    * its expansions as its own OR-group (reference: _fix_X_N_search,
    * lib/sonardb.py:3115-3131).
    */
  def fixXNSearch(groups: Seq[Seq[String]]): Seq[Seq[String]] = {
    val extra = for {
      group <- groups
      v <- group
      singleton <-
        if (v.nonEmpty && v.last.toLower == 'x' && !isDnaVar(v))
          pinpointMutation(v, Genetics.iupacAa).toSeq.map(Seq(_))
        else if (v.nonEmpty && v.last.toLower == 'n' && isDnaVar(v))
          pinpointMutation(v, Genetics.iupacNt).toSeq.map(Seq(_))
        else Nil
    } yield singleton
    (groups ++ extra).distinct
  }

  /** One OR-group split by level, post ambiguity expansion (reference:
    * make_profile_explicit, lib/sonardb.py:3086-3113).
    */
  final case class ExplicitGroup(dna: Seq[String], aa: Seq[String])

  def makeExplicit(group: Seq[String]): ExplicitGroup = {
    val distinctVars = group.distinct
    val (dnaVars, aaVars) = distinctVars.partition(isDnaVar)
    ExplicitGroup(
      dnaVars.flatMap(pinpointMutation(_, Genetics.iupacNt)).distinct,
      aaVars.flatMap(pinpointMutation(_, Genetics.iupacAa)).distinct)
  }

  // ---- P6: profile membership predicates ----

  /** AND-join `array_contains` over one profile column — flipped to OR when
    * any token ends in N (dna) / X (aa), the reference's `search_all` mode
    * (get_profile_condition, lib/sonardb.py:1623-1639).
    */
  private def profileCondition(field: String, tokens: Seq[String], negate: Boolean): Column = {
    val searchAll = field match {
      case "dna_profile" => tokens.exists(t => t.nonEmpty && t.last == 'N')
      case "aa_profile" => tokens.exists(t => t.nonEmpty && t.last == 'X')
      case _ => false
    }
    val parts = tokens.map { t =>
      val c = array_contains(col(field), t)
      if (negate) !c else c
    }
    if (searchAll) parts.reduce(_ || _) else parts.reduce(_ && _)
  }

  private def profileGroupsCondition(groups: Seq[ExplicitGroup], negate: Boolean): Option[Column] = {
    val groupConds = groups.flatMap { g =>
      val sub = Seq(
        if (g.dna.nonEmpty) Some(profileCondition("dna_profile", g.dna, negate)) else None,
        if (g.aa.nonEmpty) Some(profileCondition("aa_profile", g.aa, negate)) else None).flatten
      if (sub.isEmpty) None else Some(sub.reduce(_ && _))
    }
    if (groupConds.isEmpty) None else Some(groupConds.reduce(_ || _))
  }

  // ---- P1-P5/P7: metadata predicates (lib/sonardb.py:1641-1680) ----

  private def splitNegation(vals: Seq[String]): (Seq[String], Seq[String]) =
    (vals.filterNot(_.startsWith("^")), vals.filter(_.startsWith("^")).map(_.substring(1)))

  private def inCondition(field: String, include: Seq[String], exclude: Seq[String]): Seq[Column] =
    Seq(
      if (include.nonEmpty) Some(col(field).isin(include: _*)) else None,
      if (exclude.nonEmpty) Some(!col(field).isin(exclude: _*)) else None).flatten

  private def prefixCondition(field: String, include: Seq[String], exclude: Seq[String]): Seq[Column] =
    Seq(
      if (include.nonEmpty) Some(include.map(col(field).startsWith(_)).reduce(_ || _)) else None,
      if (exclude.nonEmpty) Some(exclude.map(!col(field).startsWith(_)).reduce(_ && _)) else None)
      .flatten

  private def dateCondition(field: String, include: Seq[String], exclude: Seq[String]): Seq[Column] = {
    def one(d: String, negate: Boolean): Column =
      if (d.contains(":")) {
        val Array(a, b) = d.split(":", 2)
        if (negate) !col(field).between(a, b) else col(field).between(a, b)
      } else if (negate) col(field) =!= d else col(field) === d
    Seq(
      if (include.nonEmpty) Some(include.map(one(_, negate = false)).reduce(_ || _)) else None,
      if (exclude.nonEmpty) Some(exclude.map(one(_, negate = true)).reduce(_ && _)) else None)
      .flatten
  }

  // ---- R4/R5: lineage wildcard + sublineage expansion ----

  /** `%`-wildcard lineages resolve to the concrete lineage list present in
    * the store; patterns matching nothing are discarded
    * (lib/sonardb.py:3365-3388 over get_list_of_lineages 1608-1614).
    * The lineage dimension is tiny (thousands) so the DISTINCT collect is a
    * driver-side broadcast-style lookup even at 100 TB of genomes.
    */
  private def expandWildcards(store: SonarStore, lineages: Seq[String]): Seq[String] =
    if (!lineages.exists(_.contains("%"))) lineages
    else {
      import store.spark.implicits._
      // one distinct scan regardless of pattern count; patterns match in memory
      val all = store.table("genome").select("lineage").distinct()
        .filter(col("lineage").isNotNull).as[String].collect()
      lineages.flatMap { l =>
        if (!l.contains("%")) Seq(l)
        else {
          // SQL LIKE semantics: % = any run, _ = any single char
          val re = ("^" + java.util.regex.Pattern.quote(l)
            .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r
          all.filter(re.matches(_)).toSeq
        }
      }
    }

  /** The sublineage map for a store: a store-local `lineage.all.tsv`
    * (written by the CLI's update-lineage-info, mirroring how the reference
    * updater overwrites the file its matcher reads) takes precedence over
    * the bundled snapshot.
    */
  def lineageMapFor(store: SonarStore): Map[String, String] = {
    val p = java.nio.file.Paths.get(store.dir, "lineage.all.tsv")
    if (java.nio.file.Files.isRegularFile(p))
      Reference.parseLineageTsv(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else Reference.lineageSublineages
  }

  /** `--with-sublineage` worklist closure over the bundled lineage map
    * (reference: lib/sonardb.py:3390-3425), order-preserving dedup.
    */
  def withSublineages(include: Seq[String],
      map: Map[String, String] = Reference.lineageSublineages): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val queue = scala.collection.mutable.Queue(include: _*)
    while (queue.nonEmpty) {
      val lin = queue.dequeue()
      out += lin
      map.getOrElse(lin, "none") match {
        case "none" =>
        case subs => subs.split(",").foreach(queue.enqueue(_))
      }
    }
    out.toSeq
  }

  // ---- output ambiguity filtering (reference: filter_ambig, 2994-3032) ----

  /** Drop profile tokens whose terminal letter is an ambiguity code;
    * deletions always survive. The reference's `keep` parameter is effectively
    * inert (it receives the dict keys "dna"/"aa", not tokens —
    * lib/sonardb.py:3470-3473), so no keep-set is modeled.
    * Runs as a codegen'd higher-order array function, not a UDF.
    */
  private def filterAmbigCol(field: String, explicit: Set[Char]): Column = {
    val explicitArr = array(explicit.toSeq.sorted.map(c => lit(c.toString)): _*)
    filter(col(field), t =>
      t.contains("del:") ||
        !right(t, lit(1)).rlike("[A-Z]") ||
        array_contains(explicitArr, right(t, lit(1))))
  }

  // ---- the query ----

  /** Build the match DataFrame over `essence`. Profile columns are returned
    * as space-joined strings in the reference's CSV shape; use `.count()` on
    * the result for count mode (P8).
    */
  def matchGenomes(store: SonarStore, args0: MatchArgs): DataFrame =
    matchWithPlan(store, args0)._1

  /** [[matchGenomes]] together with the plan tier it chose. */
  def matchWithPlan(store: SonarStore, args0: MatchArgs): (DataFrame, MatchPlan) =
    matchWithPlan(store, args0, SonarStore.CarrierPlanCap, SonarStore.IndexMinProfileBytes)

  /** [[matchWithPlan]] with the token-index carrier cap and store-size
    * floor given: carrier sets up to `carrierCap` take the pruned plan when
    * `profile` holds at least `minProfileBytes`. Cap `0` skips the index
    * lookup altogether (the full essence scan); floor `0` prices the index
    * on any store. Specs and rehearsals force a plan tier through it;
    * results are the same for every cap and floor.
    */
  private[graft] def matchWithPlan(store: SonarStore, args0: MatchArgs,
      carrierCap: Int, minProfileBytes: Long): (DataFrame, MatchPlan) = {
    val args = args0.normalized

    // R1: token validation
    val allTokens = (args.profiles ++ args.excludeProfiles).flatten
    val nonValid = allTokens.filterNot(t => isDnaVar(t) || isAaVar(t))
    require(nonValid.isEmpty,
      "input error: Non-valid variant expression(s) entered: " + nonValid.mkString(", "))
    require(args.softwareVersion.isEmpty || args.software.nonEmpty,
      "input error: matching a given software version needs a software defined.")

    // R3 + R2
    val includeGroups = fixXNSearch(args.profiles).map(makeExplicit)
    val excludeGroups = fixXNSearch(args.excludeProfiles).map(makeExplicit)

    // R6 negation splits
    val (incAcc, excAcc) = splitNegation(args.accessions)
    val (incLin0, excLin0) = splitNegation(args.lineages)
    val (incZip, excZip) = splitNegation(args.zips)
    val (incDate, excDate) = splitNegation(args.dates)
    val (incSub, excSub) = splitNegation(args.submissionDates)
    val (incLab, excLab) = splitNegation(args.labs)
    val (incSrc, excSrc) = splitNegation(args.sources)
    val (incColl, excColl) = splitNegation(args.collections)
    val (incTech, excTech) = splitNegation(args.technologies)
    val (incPlat, excPlat) = splitNegation(args.platforms)
    val (incChem, excChem) = splitNegation(args.chemistries)
    val (incMat, excMat) = splitNegation(args.materials)
    val (incHash, excHash) = splitNegation(args.seqhashes)
    val (incSw, excSw) = args.software match {
      case Some(s) if s.startsWith("^") => (None, Some(s.substring(1)))
      case s => (s, None)
    }
    val (incSv, excSv) = args.softwareVersion match {
      case Some(s) if s.startsWith("^") => (None, Some(s.substring(1)))
      case s => (s, None)
    }

    // R4 + R5
    val incLin1 = expandWildcards(store, incLin0)
    val excLin = expandWildcards(store, excLin0)
    val incLin =
      if (args.withSublineage) withSublineages(incLin1, lineageMapFor(store)) else incLin1

    val conds = Seq.newBuilder[Column]
    conds ++= inCondition("accession", incAcc, excAcc)
    conds ++= inCondition("lineage", incLin, excLin)
    conds ++= inCondition("lab", incLab, excLab)
    conds ++= inCondition("source", incSrc, excSrc)
    conds ++= inCondition("collection", incColl, excColl)
    conds ++= inCondition("technology", incTech, excTech)
    conds ++= inCondition("platform", incPlat, excPlat)
    conds ++= inCondition("chemistry", incChem, excChem)
    conds ++= inCondition("material", incMat, excMat)
    incSw.foreach(s => conds += (col("software") === s))
    excSw.foreach(s => conds += (col("software") =!= s))
    incSv.foreach(s => conds += (col("software_version") === s))
    excSv.foreach(s => conds += (col("software_version") =!= s))
    args.minCt.foreach(v => conds += (col("ct") >= v))
    args.maxCt.foreach(v => conds += (col("ct") <= v))
    conds ++= prefixCondition("zip", incZip, excZip)
    conds ++= dateCondition("date", incDate, excDate)
    conds ++= dateCondition("submission_date", incSub, excSub)
    conds ++= inCondition("seqhash", incHash, excHash)
    profileGroupsCondition(includeGroups, negate = false).foreach(conds += _)
    profileGroupsCondition(excludeGroups, negate = true).foreach(conds += _)
    conds += (args.frameshifts match {
      case -1 => size(col("fs_profile")) === 0
      case 1 => size(col("fs_profile")) > 0
      case _ => lit(true)
    })

    // Token-index data skipping (exact-safe): for include-profile queries
    // with a fresh index on a store above the size floor, resolve the
    // carrier-seqhash superset and match over that slice instead of
    // scanning every profile row; the predicate conjunction below is
    // applied unchanged on top, so results are byte-identical on every tier.
    val carriers =
      if (includeGroups.isEmpty) Left(MatchPlan.NoIncludeProfile)
      else if (carrierCap <= 0) Left(MatchPlan.IndexOff)
      else TokenIndex.lookup(store, includeGroups, carrierCap, minProfileBytes)
    val (base, plan) = carriers match {
      case Right(cs) =>
        val tier =
          if (cs.size <= SonarStore.CarrierPushdownCap) MatchPlan.InPushdown else MatchPlan.SemiJoin
        (store.essenceForSeqhashes(cs), MatchPlan(tier, Some(cs.size), MatchPlan.Indexed))
      case Left(reason) => (store.essence, MatchPlan(MatchPlan.FullScan, None, reason))
    }

    val filtered = conds.result().foldLeft(base)((df, c) => df.filter(c))

    val dnaOut =
      if (args.ambig) col("dna_profile")
      else filterAmbigCol("dna_profile", Genetics.iupacNtExplicit)
    val aaOut =
      if (args.ambig) col("aa_profile")
      else filterAmbigCol("aa_profile", Genetics.iupacAaExplicit)

    (filtered.select(SonarStore.essenceColumns.map {
      case "dna_profile" => array_join(dnaOut, " ").as("dna_profile")
      case "aa_profile" => array_join(aaOut, " ").as("aa_profile")
      case "fs_profile" => array_join(col("fs_profile"), " ").as("fs_profile")
      case c => col(c)
    }: _*), plan)
  }
}

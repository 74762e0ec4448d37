package perfbench

import graft.nshm.{Fault, FaultInfo, FaultSystem, Plane, Rupture}
import scala.collection.mutable
import scala.util.Random

/** The benchmark's own search-expression tree. Queries are generated as
  * trees and rendered to the DSL string the program parses; the oracle
  * evaluates the tree itself and never calls `graft.dsl`.
  */
sealed trait BExpr {
  def eval(names: Set[String]): Boolean = this match {
    case BAtom(n) => names(n)
    case BNot(e) => !e.eval(names)
    case BAnd(l, r) => l.eval(names) && r.eval(names)
    case BOr(l, r) => l.eval(names) || r.eval(names)
  }
  private def prec: Int = this match {
    case _: BOr => 1; case _: BAnd => 2; case _: BNot => 3; case _: BAtom => 4
  }
  /** Rendered with the fewest parentheses the DSL's precedence allows
    * (`!` over `&` over `|`), so precedence is exercised too.
    */
  def render: String = {
    def child(e: BExpr, min: Int) = if (e.prec < min) s"(${e.render})" else e.render
    this match {
      case BAtom(n) => n
      case BNot(e) => "!" + child(e, 3)
      case BAnd(l, r) => s"${child(l, 2)} & ${child(r, 3)}"
      case BOr(l, r) => s"${child(l, 1)} | ${child(r, 2)}"
    }
  }
}
final case class BAtom(name: String) extends BExpr
final case class BNot(e: BExpr) extends BExpr
final case class BAnd(l: BExpr, r: BExpr) extends BExpr
final case class BOr(l: BExpr, r: BExpr) extends BExpr

/** One `NshmDb.query` call. */
final case class SearchQ(
    expr: BExpr,
    magnitudeBounds: (Option[Double], Option[Double]),
    rateBounds: (Option[Double], Option[Double]),
    k: Int,
    faultCountLimit: Option[Int]) {
  lazy val text: String = expr.render
}

/** Lookup calls into `NshmDb`. */
sealed trait LookupQ { def kind: String }
final case class GetRupture(system: Int, id: Int) extends LookupQ { def kind = "get_rupture" }
final case class GetFault(system: Int, id: Int) extends LookupQ { def kind = "get_fault" }
final case class GetFaultInfo(system: Int, id: Int) extends LookupQ { def kind = "get_fault_info" }
final case class GetRuptureFaultInfo(id: Int) extends LookupQ { def kind = "get_rupture_fault_info" }
final case class MostLikelyFault(system: Int, id: Int, targets: Seq[(String, Double)]) extends LookupQ {
  def kind = "most_likely_fault"
}

object LookupQ {
  val kinds: Seq[String] =
    Seq("get_rupture", "get_fault", "get_fault_info", "get_rupture_fault_info", "most_likely_fault")
}

/** Seeded op streams over a release. */
final class Streams(rel: Release, oracle: Oracle, seed: Long) {
  private val rnd = new Random(seed * 7919 + 17)
  private val names = rnd.shuffle(rel.crustalParentNames)
  private val nameRank = new Zipf(names.size, 1.0)
  private val byRate = rel.allRuptures.sortBy(r => -rel.mergedRate(r))
  private val crustalByRate = byRate.filter(_.system == FaultSystem.Crustal)
  private val rateRank = new Zipf(byRate.size, 1.0)
  private val crustalRank = new Zipf(crustalByRate.size, 1.0)
  private val sections = rel.groups.flatMap(_.sections)

  private def expr(atoms: Int): BExpr = {
    val e =
      if (atoms == 1) BAtom(names(nameRank.draw(rnd)))
      else {
        val l = 1 + rnd.nextInt(atoms - 1)
        if (rnd.nextInt(100) < 55) BOr(expr(l), expr(atoms - l)) else BAnd(expr(l), expr(atoms - l))
      }
    if (rnd.nextInt(100) < 12) BNot(e) else e
  }

  /** The template pool has a fixed make-up, the same for every seed, so
    * that runs with different seeds measure comparable work. Of 16
    * templates, nine take k = 100 and match at least 100 ruptures, three
    * take k = 100 and match 10 to 99, two take k = 10 and two take
    * k = 1000 and match at least 300. Atom counts run 1 to 6; five bound
    * the magnitude, three the rate and three the number of parent faults.
    * Names, operators and bounds come from the seed, redrawn until the
    * match count falls in the slot's band.
    */
  lazy val templates: Vector[SearchQ] = {
    def flags(n: Int) = rnd.shuffle(Vector.fill(n)(true) ++ Vector.fill(16 - n)(false))
    require(Streams.searchPeriod == 16)
    val slots = rnd.shuffle(Vector.fill(9)((100, 100)) ++ Vector.fill(3)((100, 10)) ++
      Vector.fill(2)((10, 10)) ++ Vector.fill(2)((1000, 300)))
    val atoms = rnd.shuffle(Vector(1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 5, 6))
    val (mags, rates, fcls) = (flags(5), flags(3), flags(3))
    Vector.tabulate(16) { i =>
      val (k, least) = slots(i)
      val most = if (least == 10 && k == 100) 99 else Int.MaxValue
      def draw(): SearchQ = {
        val m = if (!mags(i)) (None, None) else {
          val lo = 6.0 + rnd.nextInt(10) * 0.1 + 0.0005
          (Some(lo), if (rnd.nextBoolean()) Some(lo + 1.2) else None)
        }
        val r = if (!rates(i)) (None, None) else {
          // midway between two neighbouring merged rates: never equal to one
          val j = byRate.size / 4 + rnd.nextInt(byRate.size / 2)
          (Some(math.sqrt(rel.mergedRate(byRate(j)) * rel.mergedRate(byRate(j + 1)))), None)
        }
        SearchQ(expr(atoms(i)), m, r, k, if (fcls(i)) Some(1 + rnd.nextInt(3)) else None)
      }
      Iterator.continually(draw()).take(400).find { q =>
        val n = oracle.hits(q).size
        n >= least && n <= most
      }.getOrElse(draw())
    }
  }

  /** Keys of the ops drawn so far, for the repeat share. */
  val searchKeys = mutable.ArrayBuffer.empty[Int]
  val lookupKeys = mutable.ArrayBuffer.empty[LookupQ]

  private var searchOrder = Vector.empty[Int]
  /** Every template once per period of 16 searches, in seeded order. */
  def nextSearch(): SearchQ = {
    if (searchOrder.isEmpty) searchOrder = rnd.shuffle(templates.indices.toVector)
    val i = searchOrder.head
    searchOrder = searchOrder.tail
    searchKeys += i
    templates(i)
  }

  private var lookupOrder = Vector.empty[Int]
  /** The kinds of [[Streams.lookupPattern]] once per period, in seeded order. */
  def nextLookup(): LookupQ = {
    if (lookupOrder.isEmpty) lookupOrder = rnd.shuffle(Streams.lookupPattern)
    val q = lookup(lookupOrder.head, rnd)
    lookupOrder = lookupOrder.tail
    lookupKeys += q
    q
  }

  /** Set-up's warm-up: a fault-info lookup, then one call of the workload's
    * own kind, from a generator of their own.
    */
  def warmUps(workload: String): Seq[Any] = {
    val r = new Random(seed + 1)
    Seq(lookup(2, r), if (workload == "search") templates.find(_.k == 10).get else lookup(0, r))
  }

  private def lookup(kind: Int, rnd: Random): LookupQ = {
    def section = sections(rnd.nextInt(sections.size))
    kind match {
      case 0 => val r = byRate(rateRank.draw(rnd)); GetRupture(r.system, r.id)
      case 1 => val s = section; GetFault(s.system, s.id)
      case 2 => val s = section; GetFaultInfo(s.system, s.id)
      case 3 => GetRuptureFaultInfo(byRate(rateRank.draw(rnd)).id)
      case _ =>
        val r = crustalByRate(crustalRank.draw(rnd))
        val parents = r.sections.map(i => rel.sectionsOf((r.system, i)).parent).distinct.take(3)
        val absent = names.find(n => !parents.contains(n)).toSeq
        val targets = (parents ++ absent).map(p => p -> Geo.round(r.magnitude - rnd.nextDouble() * 0.8, 2))
        MostLikelyFault(r.system, r.id, targets)
    }
  }
}

object Streams {
  /** Lookup kinds (indices into [[LookupQ.kinds]]) per period of 20, in
    * seeded order: four of each kind. No measured mix of NSHM lookups
    * exists, so no kind is weighted above another. Rupture keys are
    * Zipf-skewed (s = 1, assumed) by rate rank, fault keys uniform.
    */
  val lookupPattern: Vector[Int] = Vector.tabulate(20)(_ / 4)
  val searchPeriod = 16

  /** Each call class's share of a workload's mix: searches are classed by
    * k (12 of 16 templates take 100, two 10, two 1000: mostly 100, some
    * 10 and 1000, in an assumed split), lookups by kind (equal shares).
    */
  def mix(workload: String): Map[String, Double] =
    if (workload == "search") Map("k100" -> 12.0 / searchPeriod, "k10" -> 2.0 / searchPeriod, "k1000" -> 2.0 / searchPeriod)
    else lookupPattern.groupBy(LookupQ.kinds(_)).view.mapValues(_.size.toDouble / lookupPattern.size).toMap
}

/** Expected results computed from the generator's own model, and the
  * comparisons against what the program returned. Each check returns
  * None when the output is right, else a short description.
  */
final class Oracle(rel: Release) {
  private def parentsOf(r: Rup): Set[String] =
    r.sections.map(i => rel.sectionsOf((r.system, i)).parent).toSet
  private val parents: Map[(Int, Int), Set[String]] =
    rel.allRuptures.map(r => (r.system, r.id) -> parentsOf(r)).toMap
  private val merged: Map[(Int, Int), Double] =
    rel.allRuptures.map(r => (r.system, r.id) -> rel.mergedRate(r)).toMap

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-15

  /** Top-k ruptures in rate order; the program keys the result by NSHM id,
    * so a later (lower-rate) rupture replaces an earlier one with the same
    * id from another system.
    */
  def search(q: SearchQ): Map[Long, Rup] =
    hits(q).sortBy(r => -merged((r.system, r.id))).take(q.k).map(r => r.id.toLong -> r).toMap

  /** Every rupture the search matches, before the top-k cut. */
  def hits(q: SearchQ): Vector[Rup] =
    rel.allRuptures.filter { r =>
      val rate = merged((r.system, r.id))
      q.magnitudeBounds._1.forall(r.magnitude >= _) && q.magnitudeBounds._2.forall(r.magnitude <= _) &&
      q.rateBounds._1.forall(rate >= _) && q.rateBounds._2.forall(rate <= _) &&
      q.faultCountLimit.forall(parents((r.system, r.id)).size <= _) &&
      q.expr.eval(parents((r.system, r.id)))
    }

  def checkSearch(q: SearchQ, got: Map[Long, Rupture]): Option[String] = {
    val want = search(q)
    if (got.keySet != want.keySet)
      Some(s"search '${q.text}': ${got.size} ids, want ${want.size}; " +
        s"missing ${(want.keySet -- got.keySet).take(3)}, extra ${(got.keySet -- want.keySet).take(3)}")
    else want.valuesIterator.map(r => checkRupture(r, got(r.id.toLong))).collectFirst { case Some(e) => e }
  }

  private def checkRupture(r: Rup, got: Rupture): Option[String] = {
    val what = s"rupture ${FaultSystem.name(r.system)}/${r.id}"
    if (got.faultSystem != r.system || got.ruptureNshmId != r.id) Some(s"$what: wrong identity")
    else if (!got.magnitude.contains(r.magnitude) || !got.area.contains(r.area) || !got.length.contains(r.length))
      Some(s"$what: properties ${got.magnitude}/${got.area}/${got.length}")
    else if (!got.rate.exists(close(_, merged((r.system, r.id))))) Some(s"$what: rate ${got.rate}")
    else checkFaults(what, r, got.faults)
  }

  /** Crustal faults are keyed by parent name with their sections' planes in
    * archive order; subduction faults are one entry per section, keyed
    * "<parent>: Section <n>".
    */
  private def checkFaults(what: String, r: Rup, got: Map[String, Fault]): Option[String] = {
    val secs = r.sections.map(i => rel.sectionsOf((r.system, i)))
    if (r.system == FaultSystem.Crustal) {
      val want = secs.groupBy(_.parent).view.mapValues(_.sortBy(_.id)).toMap
      if (got.keySet != want.keySet) Some(s"$what: fault names ${got.keySet.size} vs ${want.keySet.size}")
      else want.collectFirst(Function.unlift { case (name, ss) =>
        checkPlanes(s"$what/$name", ss, got(name).planes)
      })
    } else {
      val parent = secs.head.parent
      val named = got.keys.forall(k => k.startsWith(parent + ": Section ") &&
        k.stripPrefix(parent + ": Section ").forall(_.isDigit))
      if (!named || got.size != secs.size) Some(s"$what: ${got.size} section faults, want ${secs.size}")
      else {
        val byTop = got.values.map(f => f.planes.headOption.map(p => (p.corners(0)(0), p.corners(0)(1)))).toSet
        val missing = secs.filterNot(s => byTop(Some((s.trace.head._2, s.trace.head._1))))
        if (missing.nonEmpty) Some(s"$what: section ${missing.head.id} not hydrated")
        else secs.collectFirst(Function.unlift { s =>
          val f = got.values.find(_.planes.headOption.exists(p => p.corners(0)(0) == s.trace.head._2 &&
            p.corners(0)(1) == s.trace.head._1)).get
          checkPlanes(s"$what/section ${s.id}", Vector(s), f.planes)
        })
      }
    }
  }

  /** Top edges follow the trace at the upper depth; bottom corners sit at
    * the lower depth, offset horizontally by the down-dip width.
    */
  private def checkPlanes(what: String, secs: Vector[Section], got: Vector[Plane]): Option[String] = {
    val want = secs.flatMap { s =>
      s.trace.sliding(2).map { case Seq(a, b) => (s, a, b) }
    }
    if (want.size != got.size) return Some(s"$what: ${got.size} planes, want ${want.size}")
    want.zip(got).collectFirst(Function.unlift { case ((s, a, b), p) =>
      val c = p.corners
      val horiz = if (s.dipDeg == 90.0) 0.0 else (s.lowKm - s.upKm) / math.tan(math.toRadians(s.dipDeg))
      def off(top: Vector[Double], bottom: Vector[Double]) = Geo.km((top(1), top(0)), (bottom(1), bottom(0)))
      val topOk = c(0)(0) == a._2 && c(0)(1) == a._1 && c(1)(0) == b._2 && c(1)(1) == b._1
      val depthOk = math.abs(c(0)(2) - s.upKm * 1000) < 1e-6 && math.abs(c(2)(2) - s.lowKm * 1000) < 1e-6
      val widthOk = Seq(off(c(0), c(3)), off(c(1), c(2))).forall(d => math.abs(d - horiz) <= 0.01 * horiz + 0.01)
      if (topOk && depthOk && widthOk) None else Some(s"$what: plane geometry (top $topOk, depth $depthOk, width $widthOk)")
    })
  }

  def checkLookup(q: LookupQ, got: Any): Option[String] = (q, got) match {
    case (GetRupture(sys, id), r: Rupture) => checkRupture(rel.rupturesOf((sys, id)), r)
    case (GetFault(sys, id), f: Fault) =>
      checkPlanes(s"fault ${FaultSystem.name(sys)}/$id", Vector(rel.sectionsOf((sys, id))), f.planes)
    case (GetFaultInfo(sys, id), fi: FaultInfo) =>
      val s = rel.sectionsOf((sys, id))
      if (fi == FaultInfo(sys, id.toLong, s.parent, s.rake, None)) None
      else Some(s"fault info ${FaultSystem.name(sys)}/$id: $fi")
    case (GetRuptureFaultInfo(id), m: Map[_, _]) =>
      // the program filters on the rupture id alone, across systems, and
      // keys by parent name, so any section of that parent may win
      val secs = rel.allRuptures.filter(_.id == id)
        .flatMap(r => r.sections.map(i => rel.sectionsOf((r.system, i))))
      val got = m.asInstanceOf[Map[String, FaultInfo]]
      val byName = secs.groupBy(_.parent)
      if (got.keySet != byName.keySet) Some(s"rupture fault info $id: ${got.keySet.size} names, want ${byName.size}")
      else got.collectFirst {
        case (n, fi) if !byName(n).exists(s => fi == FaultInfo(s.system, s.id.toLong, n, s.rake, None)) =>
          s"rupture fault info $id/$n: $fi"
      }
    case (MostLikelyFault(sys, id, targets), m: Map[_, _]) =>
      val want = mostLikely(sys, id, targets)
      val got = m.asInstanceOf[Map[String, Double]]
      if (got.keySet == want.keySet && want.forall { case (n, v) => close(v, got(n)) }) None
      else Some(s"most likely fault ${FaultSystem.name(sys)}/$id: $got, want $want")
    case _ => Some(s"${q.kind}: unexpected result type ${got.getClass.getName}")
  }

  /** Per parent: the summed merged MFD rate of the rupture's sections at
    * the target magnitude snapped up to the next stored bin of the
    * rupture (clamped to its largest).
    */
  def mostLikely(sys: Int, id: Int, targets: Seq[(String, Double)]): Map[String, Double] = {
    val r = rel.rupturesOf((sys, id))
    val rows = r.sections.flatMap { i =>
      val s = rel.sectionsOf((sys, i))
      rel.mergedMfd(sys, i).map { case (m, rate) => (s.parent, m, rate) }
    }
    if (rows.isEmpty) return Map.empty
    val mags = rows.map(_._2).distinct.sorted
    targets.flatMap { case (p, t) =>
      val snapped = mags.find(_ >= t).getOrElse(mags.last)
      val hit = rows.filter(x => x._1 == p && x._2 == snapped)
      if (hit.isEmpty) None else Some(p -> hit.map(_._3).sum)
    }.toMap
  }
}

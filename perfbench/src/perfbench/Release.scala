package perfbench

import graft.nshm.{FaultSystem, Ingest}
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Random

/** One fault section: one GeoJSON feature. `trace` is (lon, lat), as in the
  * archive; each consecutive pair of trace points becomes one plane.
  */
final case class Section(
    system: Int,
    id: Int,
    parent: String,
    upKm: Double,
    lowKm: Double,
    dipDeg: Double,
    dipDir: Option[Double],
    rake: Double,
    trace: Vector[(Double, Double)]) {
  def traceKm: Double = trace.sliding(2).map { case Seq(a, b) => Geo.km(a, b) }.sum
  def widthKm: Double = (lowKm - upKm) / math.sin(math.toRadians(dipDeg))
}

/** A rupture over distinct sections of one system; `branchRates(b)` is its
  * annual rate in branch archive `b` of the system's group.
  */
final case class Rup(
    system: Int,
    id: Int,
    sections: Vector[Int],
    magnitude: Double,
    area: Double,
    length: Double,
    branchRates: Vector[Double])

/** One fault-system group of the logic tree: its weighted branches share
  * geometry, ruptures and properties and differ only in rates.
  * `mfd(sectionId)` lists (magnitude bin, per-branch rate) for every bin.
  */
final case class Group(
    code: String,
    system: Int,
    weights: Vector[Double],
    sections: Vector[Section],
    ruptures: Vector[Rup],
    mfd: Option[Map[Int, Vector[(Double, Vector[Double])]]])

/** Release size. The defaults are the size every workload runs. */
final case class Shape(
    crustalParents: Int = 60,
    crustalRuptures: Int = 3000,
    hikCols: Int = 24,
    hikRows: Int = 6,
    hikRuptures: Int = 600,
    puyCols: Int = 10,
    puyRows: Int = 3,
    puyRuptures: Int = 150)

object Shape {
  /** Tiny release for the self-check. */
  val tiny: Shape = Shape(8, 60, 4, 2, 20, 3, 2, 10)
}

/** A seeded NSHM-shaped release: crustal parent faults with MFDs plus the
  * Hikurangi and Puysegur subduction groups without, each group with at
  * least three weighted branch archives.
  */
final case class Release(groups: Vector[Group]) {
  val sectionsOf: Map[(Int, Int), Section] =
    groups.flatMap(_.sections).map(s => (s.system, s.id) -> s).toMap
  val rupturesOf: Map[(Int, Int), Rup] =
    groups.flatMap(_.ruptures).map(r => (r.system, r.id) -> r).toMap
  val groupOf: Map[Int, Group] = groups.map(g => g.system -> g).toMap
  val allRuptures: Vector[Rup] = groups.flatMap(_.ruptures)
  val crustalParentNames: Vector[String] =
    groupOf(FaultSystem.Crustal).sections.map(_.parent).distinct

  /** Weighted logic-tree rate: sum over branches of weight times rate. */
  def mergedRate(r: Rup): Double = {
    val w = groupOf(r.system).weights
    r.branchRates.indices.map(b => w(b) * r.branchRates(b)).sum
  }

  /** Merged MFD rows (magnitude, rate) of one section, positive rates only. */
  def mergedMfd(system: Int, sectionId: Int): Vector[(Double, Double)] = {
    val g = groupOf(system)
    g.mfd.flatMap(_.get(sectionId)).getOrElse(Vector.empty).flatMap { case (m, rates) =>
      val positive = rates.indices.filter(b => rates(b) > 0)
      if (positive.isEmpty) None else Some(m -> positive.map(b => g.weights(b) * rates(b)).sum)
    }
  }

  /** Rows each of the six tables holds after one build of this release. */
  def expectedRows: Map[String, Long] = {
    val secs = groups.flatMap(_.sections)
    Map(
      "parent_fault" -> secs.map(_.parent).distinct.size.toLong,
      "fault" -> secs.size.toLong,
      "fault_plane" -> secs.map(_.trace.size - 1).sum.toLong,
      "rupture" -> allRuptures.size.toLong,
      "rupture_faults" -> allRuptures.map(_.sections.size).sum.toLong,
      "magnitude_frequency_distribution" ->
        secs.map(s => mergedMfd(s.system, s.id).size).sum.toLong)
  }
}

object Geo {
  private val earthKm = 6371.0088
  /** Great-circle distance in km between (lon, lat) points. */
  def km(a: (Double, Double), b: (Double, Double)): Double = {
    val (l1, p1, l2, p2) = (math.toRadians(a._1), math.toRadians(a._2), math.toRadians(b._1), math.toRadians(b._2))
    val h = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin((l2 - l1) / 2), 2)
    2 * earthKm * math.asin(math.min(1.0, math.sqrt(h)))
  }
  def round(x: Double, places: Int): Double = BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def draw(rnd: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -(i + 1), n - 1)
  }
}

object Release {

  private val words1 = Vector(
    "Alpine", "Awatere", "Clarence", "Hope", "Wairau", "Kekerengu", "Hundalee", "Jordan",
    "Ohariu", "Wellington", "Wairarapa", "Mohaka", "Ruahine", "Paeroa", "Kerepehi",
    "Waverley", "Porters Pass", "Ostler", "Fox Peak", "Hanmer", "Kaikoura", "Needles",
    "Boo Boo", "Leader", "Humps", "Hurunui", "Poulter", "Marlborough", "Waimea", "Rotoiti")
  private val words2 = Vector(
    "North", "South", "East", "West", "Central", "Offshore", "Inland", "Upper", "Lower", "Ridge")
  /** Magnitude bins of the crustal MFD archives. */
  val mfdBins: Vector[Double] = (0 to 20).map(i => Geo.round(6.0 + 0.1 * i, 1)).toVector

  def generate(seed: Long, shape: Shape): Release = {
    val rnd = new Random(seed)
    val crustal = crustalGroup(rnd, shape)
    val hik = subductionGroup(rnd, "HIK", FaultSystem.Hikurangi, Ingest.HikurangiName,
      shape.hikCols, shape.hikRows, shape.hikRuptures, lon0 = 178.0, lat0 = -41.0, dip = 12.0, depthKm = 8.0)
    val puy = subductionGroup(rnd, "PUY", FaultSystem.Puysegur, Ingest.PuysegurName,
      shape.puyCols, shape.puyRows, shape.puyRuptures, lon0 = 165.5, lat0 = -47.5, dip = 25.0, depthKm = 10.0)
    withRates(rnd, Vector(crustal, hik, puy))
  }

  /** Three branch weights k/16 with sum exactly 1. */
  private def weights(rnd: Random): Vector[Double] = {
    val cuts = rnd.shuffle((1 until 16).toVector).take(2).sorted
    (0 +: cuts :+ 16).sliding(2).map { case Seq(a, b) => (b - a) / 16.0 }.toVector
  }

  private def crustalGroup(rnd: Random, shape: Shape): Group = {
    val names = (0 until shape.crustalParents).map { i =>
      val w1 = words1(rnd.nextInt(words1.size))
      val sep = if (rnd.nextInt(5) == 0) "-" else " "
      s"$w1$sep${words2(rnd.nextInt(words2.size))} $i"
    }
    // section counts per parent and parents per rupture follow fixed
    // quantiles, shuffled: every seed lands the same number of rows, give
    // or take the section runs
    val sizes = rnd.shuffle(names.indices.map { i =>
      1 + math.min(7, (-math.log(1 - (i + 0.5) / names.size) * 2.5).toInt)
    })
    var nextId = 0
    val byParent = names.zip(sizes).map { case (name, n) =>
      var lon = 168.0 + rnd.nextDouble() * 10.0
      var lat = -46.0 + rnd.nextDouble() * 9.0
      val strike = rnd.nextDouble() * 2 * math.Pi
      val dip = if (rnd.nextInt(10) < 3) 90.0 else Geo.round(40 + rnd.nextDouble() * 40, 1)
      val dipDir =
        if (rnd.nextInt(10) < 3) None
        else Some(Geo.round((math.toDegrees(strike) + 90 + rnd.nextDouble() * 10) % 360, 1))
      val rake = Geo.round(-180 + rnd.nextDouble() * 360, 1)
      val low = Geo.round(10 + rnd.nextDouble() * 15, 1)
      (0 until n).map { _ =>
        val points = 2 + nextId % 2
        val trace = (0 until points).map { k =>
          if (k > 0) {
            val step = 0.03 + rnd.nextDouble() * 0.04
            lon += step * math.sin(strike); lat += step * math.cos(strike)
          }
          (Geo.round(lon, 4), Geo.round(lat, 4))
        }.toVector
        val s = Section(FaultSystem.Crustal, nextId, name, 0.0, low, dip, dipDir, rake, trace)
        nextId += 1
        s
      }.toVector
    }.toVector
    val sections = byParent.flatten
    val parentRank = new Zipf(byParent.size, 1.1)
    val order = rnd.shuffle(byParent.indices.toVector)
    val fanOut = rnd.shuffle((0 until shape.crustalRuptures).map { i =>
      val u = (i + 0.5) / shape.crustalRuptures
      if (u < 0.45) 1 else if (u < 0.75) 2 else if (u < 0.9) 3 else 4
    })
    val ruptures = (0 until shape.crustalRuptures).map { id =>
      val nParents = fanOut(id)
      val parents = Iterator.continually(order(parentRank.draw(rnd))).distinct.take(nParents).toVector
      val secs = parents.flatMap { p =>
        val ps = byParent(p)
        val start = rnd.nextInt(ps.size)
        ps.slice(start, start + 1 + rnd.nextInt(ps.size - start)).map(_.id)
      }
      shaped(FaultSystem.Crustal, id, secs.map(sections))
    }.toVector
    val w = weights(rnd)
    val mfd = sections.map { s =>
      val mMax = 6.5 + rnd.nextInt(16) * 0.1
      val a = math.pow(10, -3 - rnd.nextDouble() * 2)
      val factors = w.indices.map(_ => 0.7 + rnd.nextDouble() * 0.6)
      s.id -> mfdBins.map { m =>
        m -> factors.map(f => if (m <= mMax + 1e-9) a * math.pow(10, -(m - 6.0)) * f else 0.0).toVector
      }
    }.toMap
    Group("CRU", FaultSystem.Crustal, w, sections, ruptures, Some(mfd))
  }

  private def subductionGroup(
      rnd: Random, code: String, system: Int, name: String,
      cols: Int, rows: Int, nRuptures: Int,
      lon0: Double, lat0: Double, dip: Double, depthKm: Double): Group = {
    val sections = (for (r <- 0 until rows; c <- 0 until cols) yield {
      val lat = lat0 + 0.1 * c
      val lon = lon0 - 0.08 * r
      Section(system, r * cols + c, name, r * depthKm, (r + 1) * depthKm, dip, Some(270.0), 90.0,
        Vector((Geo.round(lon, 4), Geo.round(lat, 4)), (Geo.round(lon + 0.02, 4), Geo.round(lat + 0.1, 4))))
    }).toVector
    val ruptures = (0 until nRuptures).map { id =>
      val c0 = rnd.nextInt(cols); val c1 = c0 + rnd.nextInt(math.min(cols - c0, 8))
      val r0 = rnd.nextInt(rows); val r1 = r0 + rnd.nextInt(rows - r0)
      val secs = for (r <- r0 to r1; c <- c0 to c1) yield sections(r * cols + c)
      shaped(system, id, secs.toVector)
    }.toVector
    Group(code, system, weights(rnd), sections, ruptures, None)
  }

  /** A rupture's properties from its sections; rates are filled in later. */
  private def shaped(system: Int, id: Int, secs: Vector[Section]): Rup = {
    val areaKm2 = secs.map(s => s.traceKm * s.widthKm).sum
    Rup(system, id, secs.map(_.id),
      magnitude = Geo.round(math.log10(areaKm2) + 4.2, 3),
      area = Geo.round(areaKm2 * 1e6, 1),
      length = Geo.round(secs.map(_.traceKm).sum * 1000, 1),
      branchRates = Vector.empty)
  }

  /** Distinct merged rates across all systems, spaced so that the top-k
    * order is unique: rank r gets base 1e-2 * exp(-r * d); branch rates are
    * the base times a per-branch factor (normalised so the weighted factors
    * sum to 1) times a per-rupture jitter far smaller than d.
    */
  private def withRates(rnd: Random, groups: Vector[Group]): Release = {
    val all = groups.flatMap(_.ruptures.map(r => (r.system, r.id)))
    val d = math.log(1e6) / all.size
    val rank = rnd.shuffle(all).zipWithIndex.toMap
    Release(groups.map { g =>
      val raw = g.weights.map(_ => 0.6 + rnd.nextDouble() * 0.8)
      val norm = g.weights.indices.map(b => g.weights(b) * raw(b)).sum
      val factors = raw.map(_ / norm)
      g.copy(ruptures = g.ruptures.map { r =>
        val base = 1e-2 * math.exp(-rank((r.system, r.id)) * d)
        r.copy(branchRates = factors.map(f => base * f * (1 + (rnd.nextDouble() - 0.5) * d / 4)))
      })
    })
  }

  // ------------------------------------------------------------ archives

  private def csv(header: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val sb = new StringBuilder(header.mkString(",")).append('\n')
    rows.foreach(r => sb.append(r.mkString(",")).append('\n'))
    sb.toString
  }

  private def geojson(g: Group): String = {
    def q(s: String) = "\"" + s + "\""
    g.sections.map { s =>
      val coords = s.trace.map { case (lon, lat) => s"[$lon,$lat]" }.mkString("[", ",", "]")
      s"""{"type":"Feature","properties":{"FaultID":${s.id},"ParentName":${q(s.parent)},""" +
        s""""UpDepth":${s.upKm},"LowDepth":${s.lowKm},"DipDeg":${s.dipDeg},"Rake":${s.rake},""" +
        s""""DipDir":${s.dipDir.map(_.toString).getOrElse("null")}},""" +
        s""""geometry":{"type":"LineString","coordinates":$coords}}"""
    }.mkString("""{"type":"FeatureCollection","features":[""" + "\n", ",\n", "\n]}\n")
  }

  /** Archive members of branch `b` of group `g`, in a fixed order. */
  def members(g: Group, b: Int): Seq[(String, String)] = {
    val props = csv(Seq("Rupture Index", "Magnitude", "Area (m^2)", "Length (m)"),
      g.ruptures.iterator.map(r => Seq(r.id, r.magnitude, r.area, r.length)))
    val rates = csv(Seq("Rupture Index", "Annual Rate"),
      g.ruptures.iterator.map(r => Seq(r.id, r.branchRates(b))))
    val widest = g.ruptures.map(_.sections.size).max
    val indices = csv(
      Seq("Rupture Index", "Num Sections") ++ (1 to widest).map(i => s"# $i"),
      g.ruptures.iterator.map(r => Seq(r.id, r.sections.size) ++ r.sections))
    val mfd = g.mfd.map { m =>
      Ingest.MfdsPath -> csv(Seq("Section Index") ++ mfdBins.map(_.toString),
        g.sections.iterator.map(s => s.id +: m(s.id).map(_._2(b))))
    }
    Seq(
      Ingest.FaultInformationPath -> geojson(g),
      Ingest.RupturePropertiesPath -> props,
      Ingest.RuptureRatesPath -> rates,
      Ingest.RuptureFaultJoinPath -> indices) ++ mfd
  }

  /** Zip bytes with fixed entry times, so one seed gives identical files. */
  def zipBytes(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(2022, 1, 1, 0, 0))
      zos.putNextEntry(e)
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Writes every branch archive and the manifest under `dir`; returns the
    * manifest path and the user-data bytes (archive members, uncompressed).
    */
  def write(rel: Release, dir: Path): (Path, Long) = {
    Files.createDirectories(dir)
    var userBytes = 0L
    val lines = rel.groups.flatMap { g =>
      g.weights.indices.map { b =>
        val entries = members(g, b)
        userBytes += entries.map(_._2.getBytes(UTF_8).length.toLong).sum
        val zip = dir.resolve(s"${g.code}_branch$b.zip")
        val out = new FileOutputStream(zip.toFile)
        try out.write(zipBytes(entries)) finally out.close()
        s"${g.code},${g.weights(b)},${zip.toAbsolutePath}"
      }
    }
    val manifest = dir.resolve("manifest.csv")
    Files.writeString(manifest, ("group,weight,path" +: lines).mkString("", "\n", "\n"))
    (manifest, userBytes)
  }
}

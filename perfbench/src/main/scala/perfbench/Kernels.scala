package perfbench

import scala.util.Random

import graft.core.{CellId, Haversine, Hll, Planar, TextHash, Tiles}
import graft.operators.{DedupOps, SpatialOps}
import graft.sources.Synth

/** Single-thread cost of the `core` kernels, in ns per call, on samples the
  * seed draws from the workload inputs. Each kernel runs in a timed loop of
  * at least [[Kernels.SliceNs]]; the median of [[Kernels.Slices]] slices is
  * reported, after one untimed slice that lets the JIT compile it.
  */
object Kernels {
  val SliceNs = 40L * 1000 * 1000
  val Slices = 5

  /** Defeats dead-code elimination of the timed calls. */
  @volatile var sink = 0L

  private def nsPerCall(n: Int)(call: Int => Long): Double = {
    def slice(): Double = {
      var calls = 0L
      var acc = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < SliceNs) {
        var i = 0
        while (i < n) { acc += call(i); i += 1 }
        calls += n
        t = System.nanoTime()
      }
      sink += acc
      (t - t0).toDouble / calls
    }
    slice()
    Stats.median((1 to Slices).map(_ => slice()))
  }

  /** `points` are (lon_fix, lat_fix) pairs and `texts` document bodies. */
  def measure(seed: Long, points: Array[(Long, Long)], texts: Array[String]): Seq[(String, Double)] = {
    val rnd = new Random(seed)
    val pts = Array.fill(4096)(points(rnd.nextInt(points.length)))
    val docs = Array.fill(256)(texts(rnd.nextInt(texts.length)))
    val hexes = Synth.hexagons.toArray
    val rings = pts.indices.map(_ => {
      val h = hexes(rnd.nextInt(hexes.length)); Array((h.xs, h.ys))
    }).toArray
    val deg = pts.map { case (x, y) => (x / 1e7, y / 1e7) }
    val hashes = Array.fill(4096)(rnd.nextLong())
    val lvl = SpatialOps.CoverLevel
    Seq(
      "core.Planar.pointInPolygon.ns" -> nsPerCall(pts.length) { i =>
        if (Planar.pointInPolygon(pts(i)._1, pts(i)._2, rings(i))) 1L else 0L
      },
      "core.CellId.fromFix.ns" -> nsPerCall(pts.length)(i => CellId.fromFix(pts(i)._1, pts(i)._2, lvl)),
      "core.CellId.coverBBox.ns" -> nsPerCall(hexes.length) { i =>
        val h = hexes(i)
        CellId.coverBBox(h.xs.min, h.ys.min, h.xs.max, h.ys.max, lvl).length.toLong
      },
      "core.Haversine.distance.ns" -> nsPerCall(deg.length - 1) { i =>
        java.lang.Double.doubleToRawLongBits(Haversine.distance(deg(i)._1, deg(i)._2, deg(i + 1)._1, deg(i + 1)._2))
      },
      "core.Tiles.tileX.ns" -> nsPerCall(deg.length)(i => Tiles.tileX(8, deg(i)._1).toLong),
      "core.Tiles.tileY.ns" -> nsPerCall(deg.length)(i => Tiles.tileY(8, deg(i)._2).toLong),
      "core.TextHash.minHash.ns" -> nsPerCall(docs.length) { i =>
        TextHash.minHash(docs(i), DedupOps.ShingleCap, DedupOps.ShingleLen, DedupOps.NumMinHashes)(0)
      },
      "core.TextHash.simHash64.ns" -> nsPerCall(docs.length)(i => TextHash.simHash64(docs(i))),
      "core.TextHash.shingleHashes.ns" -> nsPerCall(docs.length) { i =>
        TextHash.shingleHashes(docs(i), DedupOps.ShingleCap, DedupOps.ShingleLen).length.toLong
      },
      "core.Hll.reg.ns" -> nsPerCall(hashes.length)(i => Hll.reg(hashes(i)).toLong),
    )
  }
}

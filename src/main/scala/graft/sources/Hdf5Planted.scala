package graft.sources

/** Deterministic closed-form HDF5 file for the oracle-checked ingest
  * query (the [[Zarr.plantedStore]] pattern), written byte-by-byte from
  * the public format spec through [[Hdf5Bytes]] (superblock v3, OHDR v2
  * headers) so the read path exercised by `q_hdf5_ingest` is the same
  * one a real `libver=latest` producer hits. Contents:
  *
  *  - `temp`   double[6,5], chunked [4,5] with an IMPLICIT chunk index
  *    (pure offset math; the second chunk carries 2 rows of edge padding
  *    the reader must clip), raw value `t*10 + y`, CF attrs
  *    `_FillValue` -999 (planted at (1,2) and (5,0)), `scale_factor`
  *    0.5, `add_offset` 100
  *  - `label`  fixed string[6], size 4, "L0".."L5" null-padded
  *  - `station` compound[6] (id int32 @0 = 2t+1, w float64 @8 =
  *    t*0.25 - 0.5)
  *  - `samples` VLEN double[6]: cell t holds t elements t + 0.25k
  *    (t=0 is EMPTY — a null descriptor, no heap object), resolved
  *    through one global-heap collection
  *  - `track`  compound[6] with a NESTED compound member and an ARRAY
  *    member: {id int32 @0 = 3t+2, pos {x @0 = 1.5t, y @8 = 10−t} @8,
  *    v double[3] @24 = t + k/8} — 48 B/element
  *
  * Spec-conformance against hand-written byte fixtures (filters, B-tree
  * indexes, VLEN heaps, dense groups) lives in Hdf5Spec; this file's job
  * is numeric/string fidelity under the driver's DuckDB gate. */
object Hdf5Planted {

  def write(path: String): Unit = {
    import Hdf5Bytes._
    val int32 = signed(4, 32)
    val station = compound(16, ("id", 0, int32), ("w", 8, float64))
    // nested/array member shapes (v1 compound encoding, array v3):
    // track = {id int32 @0, pos {x double @0, y double @8} @8,
    //          v double[3] @24} — 48 bytes per element
    val array3 = cat(buf(8).put(0x3A.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .putInt(24).array(), buf(5).put(1.toByte).putInt(3).array(), float64)
    val track = compound(48, ("id", 0, int32),
      ("pos", 8, compound(16, ("x", 0, float64), ("y", 8, float64))), ("v", 24, array3))

    // --- data blocks (closed forms mirrored by the DuckDB oracle) ---
    def raw(t: Int, y: Int): Double =
      if ((t == 1 && y == 2) || (t == 5 && y == 0)) -999.0 else t * 10.0 + y
    // two full [4,5] chunks, rows 6-7 are edge padding
    val tempData = f64s((for (t <- 0 until 8; y <- 0 until 5)
      yield if (t < 6) raw(t, y) else 0.0): _*)
    val labelData = fixedStrings(4, (0 until 6).map(i => s"L$i"): _*)
    val stationData = {
      val b = buf(6 * 16)
      for (t <- 0 until 6) { b.putInt(2 * t + 1).putInt(0); b.putDouble(t * 0.25 - 0.5) }
      b.array()
    }
    val trackData = { // closed forms: id 3t+2, pos (1.5t, 10-t), v[k] t+k/8
      val b = buf(6 * 48)
      for (t <- 0 until 6) {
        b.putInt(3 * t + 2).putInt(0) // id + 4B alignment pad
        b.putDouble(t * 1.5).putDouble(10.0 - t)
        (0 until 3).foreach(k => b.putDouble(t + 0.125 * k))
      }
      b.array()
    }
    // heap objects t=1..5: t doubles; object 6: CF units text
    val units = "days since 2001-09-09".getBytes("UTF-8")
    val gcolData = globalHeap((1 to 5).map(t => t -> f64s((0 until t).map(t + 0.25 * _): _*)) :+
      (6 -> units))
    // time axis: CF-encoded day offsets (a half day pins the micros
    // rounding); units arrives as a VLEN string attr (gcol object 6),
    // calendar as a FIXED-width string attr — both netCDF-4 shapes
    val timeData = f64s(0.0, 1.0, 2.5, 3.0, 4.0, 5.0)

    assemble(path) { at =>
      Seq("temp" -> tempData, "label" -> labelData, "station" -> stationData,
        "gcol" -> gcolData,
        // cell t holds t elements; cell 0 is the null descriptor (empty)
        "samples" -> vlenRefs(at("gcol"), (0 until 6).map(t => (t, t)): _*),
        "track" -> trackData, "time" -> timeData,
        "temp.oh" -> dataset(dataspace(6L, 5L), float64, implicitChunks(Seq(4, 5), at("temp")),
          attribute("_FillValue", float64, f64s(-999.0)),
          attribute("scale_factor", float64, f64s(0.5)),
          attribute("add_offset", float64, f64s(100.0))),
        "label.oh" -> dataset(dataspace(6L), fixedString(4), contiguous(at("label"), 24L)),
        "station.oh" -> dataset(dataspace(6L), station, contiguous(at("station"), 96L)),
        "samples.oh" -> dataset(dataspace(6L), vlenSequence(float64),
          contiguous(at("samples"), 96L)),
        "track.oh" -> dataset(dataspace(6L), track, contiguous(at("track"), 288L)),
        "time.oh" -> dataset(dataspace(6L), float64, contiguous(at("time"), 48L),
          attribute("units", vlenString, vlenRefs(at("gcol"), (units.length, 6))),
          attribute("calendar", fixedString(8), ascii("standard"))),
        "root" -> group("label" -> at("label.oh"), "samples" -> at("samples.oh"),
          "station" -> at("station.oh"), "temp" -> at("temp.oh"), "time" -> at("time.oh"),
          "track" -> at("track.oh")))
    }
  }
}

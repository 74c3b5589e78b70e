package graft.sources

/** Deterministic planted HDF5 file with two SCALEOFFSET-FILTERED
  * datasets — the integration fixture for [[Scaleoffset]] behind
  * `q_hdf5_scaleoffset` and Hdf5Spec (written byte-by-byte from the
  * public format spec through [[Hdf5Bytes]] — superblock v3, OHDR v2,
  * layout v4 SINGLE-CHUNK index with the filtered-size field, v2
  * filter-pipeline message carrying the filter's full 20-word client
  * data).
  *
  *  - `packed_i16` int16[48], integer scale type, auto minbits, no fill:
  *    closed form ((7t²+3t) mod 199) − 60, spanning negatives so the
  *    signed min/minval path is exercised; auto minbits lands at 8.
  *  - `packed_f64` float64[40], D-scale with 2 decimal digits and fill
  *    value −999.0 (every t≡0 (mod 9) is fill — the reserved all-ones
  *    code): closed form k(t)/100 with k = ((17t²+5t) mod 731) − 200.
  *    Decoded values are `(k − kmin)/100.0 + kmin/100.0` (kmin = −186),
  *    the filter's exact `code/10^D + min` arithmetic — replayed
  *    op-for-op by the DuckDB oracle, so the gate stays hash-exact even
  *    though the filter is lossy in general. */
object Hdf5PlantedScaleoffset {

  /** [scaleType, scaleFactor, nelmts, class, size, sign, order,
    * filavail, filval bytes LSB-first…] — 20 words as libhdf5 writes. */
  val ClientDataI16: Seq[Int] =
    Seq(2, 0, 48, 0, 2, 1, 0, 0) ++ Seq.fill(12)(0)

  val ClientDataF64: Seq[Int] = {
    val fb = java.lang.Double.doubleToLongBits(FillF64)
    Seq(0, 2, 40, 1, 8, 0, 0, 1) ++
      (0 until 8).map(i => ((fb >>> (8 * i)) & 0xff).toInt) ++ Seq.fill(4)(0)
  }

  def FillF64: Double = -999.0

  def valueI16(t: Int): Int = (7 * t * t + 3 * t) % 199 - 60

  def valueF64(t: Int): Double =
    if (t % 9 == 0) FillF64 else ((17 * t * t + 5 * t) % 731 - 200) / 100.0

  private def kOf(t: Int): Int = (17 * t * t + 5 * t) % 731 - 200
  private val kMin: Int =
    (0 until 40).filter(_ % 9 != 0).map(kOf).min // = -186

  /** What the filter DECODES for element t: code/10^D + min, i.e.
    * `(k − kmin)/100.0 + kmin/100.0` — not always bit-equal to the
    * planted k/100.0 (the filter is lossy by a sub-centi ulp). */
  def decodedF64(t: Int): Double =
    if (t % 9 == 0) FillF64
    else (kOf(t) - kMin).toDouble / 100.0 + kMin / 100.0

  def write(path: String): Unit = {
    import Hdf5Bytes._
    val rawI16 = buf(48 * 2)
    (0 until 48).foreach(t => rawI16.putShort(valueI16(t).toShort))
    val chunkI16 = Scaleoffset.encode(rawI16.array(), ClientDataI16)
    val chunkF64 = Scaleoffset.encode(f64s((0 until 40).map(valueF64): _*), ClientDataF64)
    assemble(path) { at =>
      Seq("i16" -> chunkI16, "f64" -> chunkF64,
        "i16.oh" -> dataset(dataspace(48L), signed(2, 16),
          singleChunk(48, chunkI16.length.toLong, at("i16")),
          message(0x0B, filters(Hdf5.FilterScaleoffset -> ClientDataI16))),
        "f64.oh" -> dataset(dataspace(40L), float64,
          singleChunk(40, chunkF64.length.toLong, at("f64")),
          message(0x0B, filters(Hdf5.FilterScaleoffset -> ClientDataF64))),
        "root" -> group("packed_i16" -> at("i16.oh"), "packed_f64" -> at("f64.oh")))
    }
  }
}

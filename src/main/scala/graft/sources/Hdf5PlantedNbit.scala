package graft.sources

/** Deterministic planted HDF5 file with an NBIT-FILTERED dataset — the
  * integration fixture for [[Nbit]] behind `q_hdf5_nbit` and Hdf5Spec
  * (written byte-by-byte from the public format spec through
  * [[Hdf5Bytes]] — superblock v3, OHDR v2, layout v4 SINGLE-CHUNK index
  * with the filtered-size field, v2 filter-pipeline message).
  *
  * Contents: `sensor` int16[48] declared with 12-bit precision (the
  * classic nbit use: 12-bit ADC words in 16-bit containers), so the
  * datatype message carries precision 12 and the filter's client data
  * [8, 1, 48, ATOMIC, size 2, LE, precision 12, offset 0]. The stored
  * chunk is 48·12 bits = 72 bytes, exercising a non-byte-aligned
  * element boundary every third sample. Raw value closed form
  * `(5t² + 11t) mod 83`, mirrored arithmetically by the DuckDB oracle. */
object Hdf5PlantedNbit {

  /** [nParms, compressionNeeded, nElmts, tag, size, order, precision, offset] */
  val ClientData: Seq[Int] = Seq(8, 1, 48, Nbit.TagAtomic, 2, 0, 12, 0)

  def value(t: Int): Int = (5 * t * t + 11 * t) % 83

  def write(path: String): Unit = {
    import Hdf5Bytes._
    // raw little-endian int16 samples -> nbit-packed chunk payload
    val raw = buf(48 * 2)
    (0 until 48).foreach(t => raw.putShort(value(t).toShort))
    val chunk = Nbit.encode(raw.array(), ClientData)
    assemble(path) { at =>
      // fixed-point int16 with PRECISION 12 — the reduced precision is
      // what makes the nbit filter non-trivial
      Seq("chunk" -> chunk,
        "sensor" -> dataset(dataspace(48L), signed(2, 12),
          singleChunk(48, chunk.length.toLong, at("chunk")),
          message(0x0B, filters(Hdf5.FilterNbit -> ClientData))),
        "root" -> group("sensor" -> at("sensor")))
    }
  }
}

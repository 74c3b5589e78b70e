package graft.sources

/** Deterministic planted HDF5 file with a SZIP-FILTERED dataset — the
  * integration fixture for [[Szip]] behind `q_hdf5_szip` and Hdf5Spec
  * (written byte-by-byte from the public format spec through
  * [[Hdf5Bytes]] — superblock v3, OHDR v2, layout v4 SINGLE-CHUNK index
  * with the filtered-size field, v2 filter-pipeline message).
  *
  * Contents: `counts` int32[48], one szip-filtered chunk with client
  * data [NN|LSB, 32 bits/pixel, 8 pixels/block, 13 pixels/scanline] —
  * 13 is deliberately NOT a multiple of 8, pinning the libaec
  * ceil-divide reference-interval convention end-to-end. Raw value
  * closed form `(3t² + 7t) mod 97`, mirrored arithmetically by the
  * DuckDB oracle. */
object Hdf5PlantedSzip {

  val Mask: Int = Szip.NN | Szip.LSB
  val ClientData: Seq[Int] = Seq(Mask, 32, 8, 13)

  def value(t: Int): Int = (3 * t * t + 7 * t) % 97

  def write(path: String): Unit = {
    import Hdf5Bytes._
    // raw little-endian int32 samples -> szip-filtered chunk payload
    val chunk = Szip.encodeHdf5Chunk(i32s((0 until 48).map(value): _*), ClientData)
    assemble(path) { at =>
      Seq("chunk" -> chunk,
        "counts" -> dataset(dataspace(48L), signed(4, 32),
          singleChunk(48, chunk.length.toLong, at("chunk")),
          message(0x0B, filters(Hdf5.FilterSzip -> ClientData))),
        "root" -> group("counts" -> at("counts")))
    }
  }
}

package graft.sources

/** Deterministic planted HDF5 file with NESTED-VLEN datasets — the
  * integration fixture for `Hdf5.readVlen`'s one-level class-9 base
  * support (r12), behind `q_hdf5_nested_vlen` and Hdf5Spec (written
  * byte-by-byte from the public format spec through [[Hdf5Bytes]] —
  * superblock v3, OHDR v2, contiguous layout v4, one GCOL shared by
  * inner and outer heap objects).
  *
  * Contents:
  *   `lists` — VLEN(vlen string)[3]: `[["aa","b"], [], ["cde","","f"]]`
  *   (the h5py `vlen=str` list-column shape; covers an empty outer
  *   cell and an empty inner string via a null descriptor);
  *   `mats`  — VLEN(VLEN(int32))[2]: `[[[1,2],[3]], [[],[-7,8,9]]]`
  *   (covers an empty inner sequence).
  * Outer heap objects hold 16-byte inner hvl_t descriptors pointing
  * back into the same GCOL. */
object Hdf5PlantedNestedVlen {

  def write(path: String): Unit = {
    import Hdf5Bytes._
    // GCOL: inner strings (1-4), inner int rows (7-9), then OUTER objects
    // (5,6,10,11) holding inner descriptors that point back into this GCOL
    def heapObjs(g: Long): Seq[(Int, Array[Byte])] = Seq(
      1 -> ascii("aa"), 2 -> ascii("b"), 3 -> ascii("cde"), 4 -> ascii("f"),
      7 -> i32s(1, 2), 8 -> i32s(3), 9 -> i32s(-7, 8, 9),
      5 -> vlenRefs(g, (2, 1), (1, 2)),             // ["aa","b"]
      6 -> vlenRefs(g, (3, 3), (0, 0), (1, 4)),     // ["cde","","f"]
      10 -> vlenRefs(g, (2, 7), (1, 8)),            // [[1,2],[3]]
      11 -> vlenRefs(g, (0, 0), (3, 9)))            // [[],[-7,8,9]]
    assemble(path) { at =>
      val g = at("gcol")
      Seq("gcol" -> globalHeap(heapObjs(g)),
        "lists" -> vlenRefs(g, (2, 5), (0, 0), (3, 6)),
        "mats" -> vlenRefs(g, (2, 10), (2, 11)),
        "lists.oh" -> dataset(dataspace(3L), vlenSequence(vlenString),
          contiguous(at("lists"), 48L)),
        "mats.oh" -> dataset(dataspace(2L), vlenSequence(vlenSequence(signed(4, 32))),
          contiguous(at("mats"), 32L)),
        "root" -> group("lists" -> at("lists.oh"), "mats" -> at("mats.oh")))
    }
  }
}

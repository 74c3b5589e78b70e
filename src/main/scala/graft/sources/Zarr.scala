package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** Zarr v2 AND v3 directory-store reader — the cloud-native half of the
  * reference's `xr.open_dataset` I/O surface (xclim opens NetCDF *and*
  * Zarr through xarray; `cli.py:54-88`). Zarr v2 is the simplest possible
  * chunked-array layout: per-array JSON metadata (`.zarray` — shape,
  * chunk shape, dtype, compressor; `.zattrs` — CF attributes) plus one
  * flat file per chunk named by its grid coordinates (`"0.0"`,
  * `"1.2"`, …). Zarr v3 (what zarr-python 3 writes) moves all metadata
  * into one `zarr.json` per node — shape, `data_type` names, a regular
  * `chunk_grid`, a `chunk_key_encoding` ("default": `c/0/1` keys; "v2":
  * v2-style keys), a codec CHAIN, `dimension_names` — and both versions
  * parse into the same [[ZArray]] model here.
  *
  * Scale design mirrors [[Hdf5]] and [[NetCDF]]: the driver reads ONLY
  * the JSON metadata (a few hundred bytes per array) — never the chunk
  * list; executors open/decompress/decode their chunks in parallel
  * (`sparkContext.range` over the flat chunk count → coordinate unravel
  * → flatMap), so ingest parallelism is bounded by chunk count while
  * driver heap stays flat even at ~10^8 chunks (100 TB / 1 MB). Absent
  * chunk files — legal in Zarr, meaning "entirely fill_value" — are
  * detected executor-side and emitted from the closed form without any
  * I/O.
  *
  * Codecs: `zlib` (numcodecs Zlib — raw zlib stream,
  * `java.util.zip.Inflater`), `gzip` (numcodecs GZip), `null`
  * (uncompressed), and full Blosc chunks via [[Blosc]] — memcpy'ed,
  * byte-shuffled, BIT-shuffled and split bodies with
  * blosclz/lz4/zlib/zstd/snappy stream codecs (the c-blosc framing and
  * both shuffle filters are hand-decoded; lz4/zstd/snappy payloads go
  * to the `lz4-java`/`zstd-jni`/`snappy-java` libraries Spark ships). v3 codec chains additionally support `bytes` (endian),
  * raw `zstd` frames, identity/reversing `transpose`, trailing `crc32c`
  * (verified — `java.util.zip.CRC32C`), and `sharding_indexed` (each
  * chunk-grid entry a shard of independently-coded inner chunks behind
  * an (offset, nbytes) footer index; executors range-read the index and
  * then only their inner chunks, mirroring object-store ranged GETs).
  * v2 numcodecs `filters` chains decode for `shuffle` (trailing), `delta`,
  * `fixedscaleoffset` — the filters xarray commonly emits in `encoding`
  * — with exact integer arithmetic on the integer paths (see
  * [[ZFilter]]/[[unfilter]]), plus the lossy-at-encode float filters
  * `quantize` and `bitround`, whose decode is a pure dtype view/cast.
  * String arrays read through [[readStrings]]: fixed-width `|Sn` / `Un`
  * dtypes, `|O` + numcodecs `vlen-utf8` (the zarr-python text codec),
  * `|O` + `msgpack2`/`json2` (the other two numcodecs text-capable
  * object codecs, r12), and v3 `string` arrays incl. sharded stores
  * (r12) — the corpus-in-zarr shapes a document pipeline ingests.
  * Binary object arrays (`|O` + `vlen-bytes`/`msgpack2`, v3 `bytes`)
  * read through [[readBinary]]; Blosc delta-filtered chunks through
  * [[Blosc]] (r11; r12: gated behind
  * `spark.graft.blosc.allowUnverifiedDelta` — the layout is unverified
  * against a real c-blosc build, so default is loud reject).
  * Out of scope (documented, rejected loudly): the `pickle` object
  * codec (arbitrary python object graphs have no Spark value model)
  * and nested `sharding_indexed`.
  */
object Zarr {

  // ---------------- minimal JSON (driver-side metadata only) ----------------

  /** Tiny recursive-descent JSON parser — objects → Map[String, Any],
    * arrays → Vector[Any], numbers → Double, plus String/Boolean/null.
    * Metadata files are a few hundred bytes, so simplicity beats speed. */
  private[sources] object Json {
    def parse(s: String): Any = {
      val p = new P(s); val v = p.value(); p.ws(); require(p.eof, s"trailing JSON at ${p.i}"); v
    }
    private final class P(s: String) {
      var i = 0
      def eof: Boolean = i >= s.length
      def ws(): Unit = while (!eof && s.charAt(i).isWhitespace) i += 1
      private def expect(c: Char): Unit = {
        require(!eof && s.charAt(i) == c, s"expected '$c' at $i"); i += 1
      }
      def value(): Any = {
        ws()
        s.charAt(i) match {
          case '{' => obj()
          case '[' => arr()
          case '"' => str()
          case 't' => require(s.startsWith("true", i)); i += 4; true
          case 'f' => require(s.startsWith("false", i)); i += 5; false
          case 'n' => require(s.startsWith("null", i)); i += 4; null
          case 'N' => require(s.startsWith("NaN", i)); i += 3; Double.NaN
          case 'I' => require(s.startsWith("Infinity", i)); i += 8; Double.PositiveInfinity
          case _   => num()
        }
      }
      private def obj(): Map[String, Any] = {
        expect('{'); ws()
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
        if (s.charAt(i) == '}') { i += 1; return m.toMap }
        while (true) {
          ws(); val k = str(); ws(); expect(':'); m(k) = value(); ws()
          s.charAt(i) match {
            case ',' => i += 1
            case '}' => i += 1; return m.toMap
            case c   => throw new IllegalArgumentException(s"bad object char '$c' at $i")
          }
        }
        m.toMap
      }
      private def arr(): Vector[Any] = {
        expect('['); ws()
        val b = Vector.newBuilder[Any]
        if (s.charAt(i) == ']') { i += 1; return b.result() }
        while (true) {
          b += value(); ws()
          s.charAt(i) match {
            case ',' => i += 1
            case ']' => i += 1; return b.result()
            case c   => throw new IllegalArgumentException(s"bad array char '$c' at $i")
          }
        }
        b.result()
      }
      private def str(): String = {
        expect('"')
        val sb = new StringBuilder
        while (s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\') {
            i += 1
            s.charAt(i) match {
              case '"'  => sb += '"'
              case '\\' => sb += '\\'
              case '/'  => sb += '/'
              case 'b'  => sb += '\b'
              case 'f'  => sb += '\f'
              case 'n'  => sb += '\n'
              case 'r'  => sb += '\r'
              case 't'  => sb += '\t'
              case 'u'  => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
              case e    => throw new IllegalArgumentException(s"bad escape '\\$e'")
            }
          } else sb += c
          i += 1
        }
        i += 1
        sb.toString
      }
      private def num(): Double = {
        val start = i
        // -Infinity
        if (s.startsWith("-Infinity", i)) { i += 9; return Double.NegativeInfinity }
        while (!eof && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
        s.substring(start, i).toDouble
      }
    }
  }

  // ---------------- metadata model ----------------

  /** `dtKind`: 'f' float, 'i' signed int, 'u' unsigned int, 'b' bool.
    * `compressor`: "raw" | "zlib" | "gzip" | "blosc" | "zstd".
    * `keyPrefix` precedes the joined chunk coordinates in the chunk file
    * key ("" for v2 / v3-v2-encoding; "c" + separator for the v3 default
    * encoding). `crc32c` marks a trailing 4-byte checksum per chunk
    * (v3 codec chain), stripped before decompression. */
  final case class ZArray(name: String, shape: Seq[Long], chunks: Seq[Long],
                          dtKind: Char, dtSize: Int, littleEndian: Boolean,
                          compressor: String, fillValue: Option[Double],
                          cOrder: Boolean, dimSeparator: String,
                          attrs: Map[String, Double], dimNames: Seq[String],
                          keyPrefix: String = "", crc32c: Boolean = false,
                          sharding: Option[ShardMeta] = None,
                          filters: Seq[ZFilter] = Nil,
                          dtUnit: String = "",
                          strAttrs: Map[String, String] = Map.empty)

  /** One numcodecs v2 `filters` entry. On ENCODE the writer ran the chain
    * in list order (each filter reading its `dtype`, emitting its
    * `astype`), then the compressor; decode therefore decompresses, views
    * the bytes as the LAST filter's astype, and undoes the chain in
    * reverse. `Delta` decodes as a cumulative sum computed in `dtype`
    * (exact Long arithmetic for integer kinds — int64-ns timestamp
    * cumsums exceed 2^53 and would corrupt in a double); `FixedScaleOffset`
    * decodes as enc/scale + offset cast to `dtype` (numpy semantics:
    * truncation for integer dtypes, float32 rounding for f4). */
  final case class ZFilter(id: String, scale: Double, offset: Double,
                           dtKind: Char, dtSize: Int, dtLittle: Boolean,
                           asKind: Char, asSize: Int, asLittle: Boolean)

  /** v3 `sharding_indexed`: each chunk-grid "chunk" is a SHARD file of
    * inner chunks (shape `innerChunks`, each encoded with its own codec
    * chain) plus a binary index of (offset, nbytes) uint64 pairs — one
    * per inner chunk in C order, missing = (2^64-1, 2^64-1) — at the
    * shard's start or end, itself wrapped in `index_codecs`
    * (bytes [+ crc32c]). Executors range-read the index then only the
    * inner chunks they need — the same access pattern object-store
    * ranged GETs give a real cluster. */
  final case class ShardMeta(innerChunks: Seq[Long], innerLittle: Boolean,
                             innerCOrder: Boolean, innerComp: String,
                             innerCrc: Boolean, indexAtEnd: Boolean,
                             indexCrc: Boolean, indexLittle: Boolean,
                             innerVlen: Option[String] = None)

  private def asLongs(v: Any): Seq[Long] = v.asInstanceOf[Vector[Any]]
    .map(x => x.asInstanceOf[Double].toLong)

  /** numpy dtype string → (kind, BYTE width per element, littleEndian).
    * Numeric kinds f/i/u/b plus the string kinds the reader handles:
    * 'S' (fixed bytes, width = n), 'U' (fixed UCS-4, width = 4n) and
    * 'O' (object — width 0; elements live in a vlen codec payload). */
  private def parseDtype(dt: String): (Char, Int, Boolean) = {
    require(dt.length >= 2, s"bad dtype '$dt'")
    val little = dt.charAt(0) match {
      case '<' | '|' => true
      case '>'       => false
      case c         => throw new IllegalArgumentException(s"bad byte order '$c' in dtype '$dt'")
    }
    val kind = dt.charAt(1)
    require("fiubSUOMm".indexOf(kind) >= 0,
      s"unsupported dtype kind '$kind' in '$dt'")
    if (kind == 'M' || kind == 'm') {
      // datetime64/timedelta64: '<M8[ns]', '<m8[ms]' etc. — int64 epoch /
      // duration in the bracketed unit
      require(dt.length > 3 && dt.charAt(2) == '8',
        s"datetime64/timedelta64 dtype must be 8 bytes, got '$dt'")
      (kind, 8, little)
    } else {
      val n = if (kind == 'O') 0 else dt.drop(2).toInt
      (kind, if (kind == 'U') 4 * n else n, little)
    }
  }

  /** Driver-side Hadoop conf (active session's, so remote-store creds
    * apply). Every metadata touch and chunk fetch in this reader goes
    * through [[FsIo]]: a Zarr store addressed as `s3a://…` or `hdfs://…`
    * reads exactly like `file://`, and — critically — an executor that
    * cannot see the store FAILS LOUDLY instead of decoding absent chunks
    * as fill_value (the absent-chunk contract makes a silently unmounted
    * path indistinguishable from an all-fill array). */
  private def dConf: Configuration = FsIo.driverConf()

  /** `store`/`name` joined as a string path — uniform across schemes
    * (`file://`, `hdfs://`, `s3a://`); Hadoop `Path` parses the result. */
  private def childPath(store: String, name: String): String =
    if (name.isEmpty) store.stripSuffix("/")
    else store.stripSuffix("/") + "/" + name

  private def readText(conf: Configuration, path: String): String =
    new String(FsIo.readBytes(conf, path), java.nio.charset.StandardCharsets.UTF_8)

  /** JSON string literal (quoted + escaped) — for WRITER-side metadata
    * interpolation; a raw `$s` would let a quote-carrying attribute
    * value corrupt the whole document. */
  private[sources] def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  /** Parse one array's metadata under `store/name` (or `store` itself
    * when `name` is empty — a bare-array store): v2 `.zarray` (+ optional
    * `.zattrs`) when present, else v3 `zarr.json`. */
  def readArrayMeta(store: String, name: String): ZArray = {
    val conf = dConf
    val dir = childPath(store, name)
    val zarrayPath = dir + "/.zarray"
    if (!FsIo.isFile(conf, zarrayPath) && FsIo.isFile(conf, dir + "/zarr.json"))
      return readArrayMetaV3(store, name)
    require(FsIo.isFile(conf, zarrayPath),
      s"no .zarray or zarr.json under $dir — not a Zarr array")
    val attrsPath = dir + "/.zattrs"
    arrayMetaV2(store, name,
      Json.parse(readText(conf, zarrayPath)).asInstanceOf[Map[String, Any]],
      if (!FsIo.isFile(conf, attrsPath)) None
      else Some(Json.parse(readText(conf, attrsPath))
        .asInstanceOf[Map[String, Any]]))
  }

  /** Build a [[ZArray]] from already-parsed v2 `.zarray` (+ optional
    * `.zattrs`) documents — shared by the per-array file reads and the
    * consolidated-metadata path, which carries the same documents
    * verbatim inside `.zmetadata`. */
  private def arrayMetaV2(store: String, name: String,
                          m: Map[String, Any],
                          attrsJson: Option[Map[String, Any]]): ZArray = {
    require(m("zarr_format").asInstanceOf[Double].toInt == 2,
      s"only Zarr v2 (got zarr_format=${m("zarr_format")})")
    val filters: Seq[ZFilter] = m.getOrElse("filters", null) match {
      case null => Nil
      case v: Vector[Any @unchecked] => v.map { fo =>
        val f = fo.asInstanceOf[Map[String, Any]]
        val id = f("id").asInstanceOf[String]
        require(id == "delta" || id == "fixedscaleoffset" || id == "shuffle" ||
            id == "quantize" || id == "bitround" || id == "vlen-utf8" ||
            id == "vlen-bytes" || id == "msgpack2" || id == "json2",
          s"unsupported numcodecs filter '$id' " +
            "(delta/fixedscaleoffset/shuffle/quantize/bitround/vlen-utf8/" +
            "vlen-bytes/msgpack2/json2 only)")
        if (id == "vlen-utf8" || id == "vlen-bytes" ||
            id == "msgpack2" || id == "json2") {
          // object codecs for |O arrays — consumed by readStrings /
          // readBinary, never by the numeric unfilter chain
          ZFilter(id, 0.0, 0.0, 'O', 0, dtLittle = true, 'O', 0, asLittle = true)
        } else if (id == "shuffle") {
          // byte transpose over the serialized stream; elementsize only
          val esz = f.get("elementsize").map(_.asInstanceOf[Double].toInt).getOrElse(4)
          ZFilter(id, esz.toDouble, 0.0, 'V', esz, dtLittle = true, 'V', esz, asLittle = true)
        } else if (id == "quantize" || id == "bitround") {
          // lossy-at-ENCODE float filters: Quantize rounds to `digits`
          // decimals (np.around), BitRound zeroes mantissa bits below
          // `keepbits` (round-half-even) — on DECODE both are a pure
          // astype→dtype view/cast (numcodecs decode() is a view), so
          // the reader only needs the dtypes
          val (dk, ds, dl) = parseDtype(f("dtype").asInstanceOf[String])
          require(dk == 'f', s"numcodecs $id needs a float dtype, got '$dk$ds'")
          val (ak, asz, al) = f.get("astype")
            .map(s => parseDtype(s.asInstanceOf[String])).getOrElse((dk, ds, dl))
          require(ak == 'f', s"numcodecs $id needs a float astype, got '$ak$asz'")
          ZFilter(id, 0.0, 0.0, dk, ds, dl, ak, asz, al)
        } else {
          val (dk, ds, dl) = parseDtype(f("dtype").asInstanceOf[String])
          val (ak, asz, al) = f.get("astype")
            .map(s => parseDtype(s.asInstanceOf[String])).getOrElse((dk, ds, dl))
          if (id == "delta") ZFilter(id, 1.0, 0.0, dk, ds, dl, ak, asz, al)
          else ZFilter(id, f("scale").asInstanceOf[Double],
            f("offset").asInstanceOf[Double], dk, ds, dl, ak, asz, al)
        }
      }
      case other => throw new IllegalArgumentException(s"bad filters $other")
    }
    val (kind, size, little) = parseDtype(m("dtype").asInstanceOf[String])
    val comp = m.getOrElse("compressor", null) match {
      case null => "raw"
      case c: Map[String @unchecked, Any @unchecked] =>
        c("id").asInstanceOf[String] match {
          case "zlib"  => "zlib"
          case "gzip"  => "gzip"
          case "blosc" => "blosc"
          // numcodecs Zstd writes bare zstd frames — same decode path as
          // the v3 `zstd` codec (zstd-jni ships with Spark)
          case "zstd"  => "zstd"
          case other   => throw new IllegalArgumentException(
            s"unsupported compressor '$other' (zlib/gzip/blosc/zstd only)")
        }
      case other => throw new IllegalArgumentException(s"bad compressor $other")
    }
    val fill = m.getOrElse("fill_value", null) match {
      case _ if "SUO".indexOf(kind) >= 0 =>
        None // string arrays: absent chunks yield NULL, not a numeric fill
      case null       => None
      case d: Double  => Some(d)
      case b: Boolean => Some(if (b) 1.0 else 0.0)
      case s: String  => Some(s match { // numcodecs encodes non-finite floats as strings
        case "NaN"       => Double.NaN
        case "Infinity"  => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other       => other.toDouble
      })
    }
    val order = m.getOrElse("order", "C").asInstanceOf[String]
    require(order == "C" || order == "F", s"bad order '$order'")
    val sep = m.getOrElse("dimension_separator", ".") match {
      case null => "."; case s: String => s
    }
    var dimNames = Seq.empty[String]
    var strAttrs = Map.empty[String, String]
    val attrs: Map[String, Double] =
      attrsJson.getOrElse(Map.empty[String, Any]).flatMap {
        case ("_ARRAY_DIMENSIONS", v: Vector[Any @unchecked]) =>
          dimNames = v.map(_.asInstanceOf[String]); None
        case (k, d: Double)  => Some(k -> d)
        case (k, b: Boolean) => Some(k -> (if (b) 1.0 else 0.0))
        // string attrs carry the CF time encoding (units/calendar) —
        // kept for readTimeCoordinate; array attrs stay decode-inert
        case (k, s: String)  => strAttrs += (k -> s); None
        case _               => None
      }
    val dtUnit = if (kind == 'M' || kind == 'm') {
      val dt = m("dtype").asInstanceOf[String]
      val i = dt.indexOf('['); val j = dt.indexOf(']')
      require(i > 0 && j > i, s"datetime64/timedelta64 dtype '$dt' lacks a [unit]")
      dt.substring(i + 1, j)
    } else ""
    ZArray(if (name.isEmpty) new org.apache.hadoop.fs.Path(store).getName else name,
      asLongs(m("shape")),
      asLongs(m("chunks")), kind, size, little, comp, fill,
      order == "C", sep, attrs, dimNames, filters = filters, dtUnit = dtUnit,
      strAttrs = strAttrs)
  }

  /** Zarr v3 `zarr.json` array metadata → the shared [[ZArray]] model.
    * Handles the "regular" chunk grid, both chunk-key encodings
    * ("default" `c/0/1`-style and "v2"), named data types, string-coded
    * non-finite fill values, top-level `dimension_names`, numeric
    * `attributes`, and codec chains of `bytes`/`transpose` (identity or
    * full reverse)/`gzip`/`zstd`/`blosc`/`crc32c`/`sharding_indexed`.
    * Nested sharding and unknown codecs are rejected loudly. */
  private def readArrayMetaV3(store: String, name: String): ZArray = {
    val conf = dConf
    val dir = childPath(store, name)
    val m = Json.parse(readText(conf, dir + "/zarr.json")).asInstanceOf[Map[String, Any]]
    require(m("zarr_format").asInstanceOf[Double].toInt == 3,
      s"unexpected zarr_format ${m("zarr_format")} in zarr.json")
    require(m("node_type") == "array", s"$dir zarr.json is a ${m("node_type")}, not an array")
    val shape = asLongs(m("shape"))
    // data_type is a plain name for core types, or zarr-python 3's
    // structured dtype-extension form {"name": ..., "configuration": ...}
    // for numpy.datetime64/timedelta64 (unit in the configuration; a
    // scale_factor other than 1 multiplies epochs and is rejected until
    // a public vector pins its composition order)
    val (dtName, dtUnit) = m("data_type") match {
      case s: String => (s, "")
      case e: Map[String @unchecked, Any @unchecked] =>
        val nm = e("name").asInstanceOf[String]
        require(nm == "numpy.datetime64" || nm == "numpy.timedelta64",
          s"unsupported structured v3 data_type '$nm'")
        val cfg = e.getOrElse("configuration", Map.empty)
          .asInstanceOf[Map[String, Any]]
        val sf = cfg.getOrElse("scale_factor", 1.0).asInstanceOf[Double]
        require(sf == 1.0, s"v3 $nm scale_factor $sf unsupported (1 only)")
        (nm, cfg.getOrElse("unit", "ns").asInstanceOf[String])
      case other => throw new IllegalArgumentException(s"bad data_type $other")
    }
    val (kind, size) = dtName match {
      case "float64" => ('f', 8); case "float32" => ('f', 4)
      case "int64"   => ('i', 8); case "int32"   => ('i', 4)
      case "int16"   => ('i', 2); case "int8"    => ('i', 1)
      case "uint32"  => ('u', 4); case "uint16"  => ('u', 2)
      case "uint8"   => ('u', 1); case "bool"    => ('b', 1)
      // variable-length string/bytes (zarr-python 3's text and raw-bytes
      // dtypes, r12): elements live in a vlen codec payload, width 0
      case "string"  => ('O', 0); case "bytes"   => ('O', 0)
      // int64 epochs/durations in dtUnit (r13): exact-Long readers
      case "numpy.datetime64"  => ('M', 8)
      case "numpy.timedelta64" => ('m', 8)
      case other     => throw new IllegalArgumentException(
        s"unsupported v3 data_type '$other' (complex/structured out of scope)")
    }
    val grid = m("chunk_grid").asInstanceOf[Map[String, Any]]
    require(grid("name") == "regular", s"only regular chunk grids (got ${grid("name")})")
    val chunks = asLongs(grid("configuration").asInstanceOf[Map[String, Any]]("chunk_shape"))
    val (keyPrefix, sep) = m.get("chunk_key_encoding") match {
      case None => ("c/", "/") // spec default
      case Some(e: Map[String @unchecked, Any @unchecked]) =>
        val nm = e("name").asInstanceOf[String]
        val cfg = e.getOrElse("configuration", Map.empty)
          .asInstanceOf[Map[String, Any]]
        val s = cfg.getOrElse("separator",
          if (nm == "v2") "." else "/").asInstanceOf[String]
        nm match {
          case "default" => ("c" + s, s)
          case "v2"      => ("", s)
          case other     => throw new IllegalArgumentException(
            s"unknown chunk_key_encoding '$other'")
        }
      case other => throw new IllegalArgumentException(s"bad chunk_key_encoding $other")
    }
    // object arrays take a string/bytes fill (usually "") that the reader
    // ignores — absent chunks yield NULL, matching the v2 object path;
    // same for datetime/timedelta (whose fill would be a NaT sentinel)
    val fill = if (kind == 'O' || kind == 'M' || kind == 'm') None
      else m.getOrElse("fill_value", null) match {
      case null       => None
      case d: Double  => Some(d)
      case b: Boolean => Some(if (b) 1.0 else 0.0)
      case s: String  => Some(s match {
        case "NaN"       => Double.NaN
        case "Infinity"  => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other       => other.toDouble
      })
      case other => throw new IllegalArgumentException(s"bad fill_value $other")
    }
    val chain = parseCodecsV3(
      m.getOrElse("codecs", Vector.empty[Any]).asInstanceOf[Vector[Any]],
      shape.length, allowSharding = true)
    val (little, cOrder, comp, crc) =
      (chain.little, chain.cOrder, chain.comp, chain.crc)
    require(!(crc && chain.sharding.isDefined),
      "crc32c wrapping a whole sharding_indexed shard is unsupported " +
        "(it would displace the shard index; put crc32c in the inner or " +
        "index codec chains instead)")
    chain.sharding.foreach { sh =>
      require(sh.innerChunks.length == shape.length &&
        sh.innerChunks.zip(chunks).forall { case (i, o) => i > 0 && o % i == 0 },
        s"inner chunk shape ${sh.innerChunks.mkString("x")} must divide " +
          s"the shard shape ${chunks.mkString("x")}")
    }
    val dimNames = m.get("dimension_names") match {
      case Some(v: Vector[Any @unchecked]) if v.forall(_.isInstanceOf[String]) =>
        v.map(_.asInstanceOf[String])
      case _ => Seq.empty[String]
    }
    var strAttrs = Map.empty[String, String]
    val attrs: Map[String, Double] = m.getOrElse("attributes", Map.empty)
      .asInstanceOf[Map[String, Any]].flatMap {
        case (k, d: Double)  => Some(k -> d)
        case (k, b: Boolean) => Some(k -> (if (b) 1.0 else 0.0))
        case (k, s: String)  => strAttrs += (k -> s); None // CF time encoding
        case _               => None // array attrs don't affect decode
      }
    // vlen codec ↔ data_type consistency: string needs vlen-utf8, bytes
    // needs vlen-bytes (directly or as the shard's inner array→bytes
    // codec); numeric chains must not carry one. The matched codec is
    // surfaced as a synthetic v2-style filter so readStrings/readBinary
    // share one object-array contract across both format versions.
    val effVlen = chain.vlen.orElse(chain.sharding.flatMap(_.innerVlen))
    val filters: Seq[ZFilter] =
      if (kind == 'O') {
        val want = if (dtName == "string") "vlen-utf8" else "vlen-bytes"
        require(effVlen.contains(want),
          s"v3 data_type '$dtName' needs the $want codec in its chain, " +
            s"got ${effVlen.getOrElse("none")}")
        Seq(ZFilter(want, 0.0, 0.0, 'O', 0, dtLittle = true, 'O', 0, asLittle = true))
      } else {
        require(effVlen.isEmpty,
          s"vlen codec ${effVlen.get} is only valid for string/bytes data types")
        Nil
      }
    ZArray(if (name.isEmpty) new org.apache.hadoop.fs.Path(store).getName else name,
      shape, chunks, kind, size,
      little, comp, fill, cOrder, sep, attrs, dimNames, keyPrefix, crc,
      chain.sharding, filters, dtUnit, strAttrs)
  }

  private final case class CodecChain(little: Boolean, cOrder: Boolean,
                                      comp: String, crc: Boolean,
                                      sharding: Option[ShardMeta],
                                      vlen: Option[String] = None)

  /** Fold one v3 codec list into (endianness, element order, compressor,
    * trailing crc32c, sharding, vlen array→bytes codec). Recurses once
    * for `sharding_indexed`'s inner `codecs` and `index_codecs`; nested
    * sharding is rejected. */
  private def parseCodecsV3(codecs: Vector[Any], rank: Int,
                            allowSharding: Boolean): CodecChain = {
    var little = true; var cOrder = true; var comp = "raw"; var crc = false
    var shard: Option[ShardMeta] = None
    var vlen: Option[String] = None
    def setComp(c: String): Unit = {
      require(comp == "raw" && shard.isEmpty, s"unsupported codec chain: $comp then $c")
      comp = c
    }
    codecs.foreach { c =>
      val cm = c.asInstanceOf[Map[String, Any]]
      val cfg = cm.getOrElse("configuration", Map.empty)
        .asInstanceOf[Map[String, Any]]
      cm("name").asInstanceOf[String] match {
        case "bytes" => little = cfg.getOrElse("endian", "little") == "little"
        case v @ ("vlen-utf8" | "vlen-bytes") =>
          // array→bytes codec for variable-length string/bytes arrays
          // (zarr-python 3's text/bytes encoding); payload is the same
          // published VLen layout as the numcodecs v2 object codecs
          require(vlen.isEmpty && comp == "raw",
            s"vlen codec '$v' must precede the compressor and appear once")
          vlen = Some(v)
        case "transpose" =>
          val order = cfg("order").asInstanceOf[Vector[Any]]
            .map(_.asInstanceOf[Double].toInt)
          if (order == (0 until rank).reverse.toVector) cOrder = false
          else require(order == (0 until rank).toVector,
            s"unsupported transpose order ${order.mkString(",")}")
        case "gzip"   => setComp("gzip")
        case "zstd"   => setComp("zstd")
        case "blosc"  => setComp("blosc")
        case "crc32c" => crc = true
        case "sharding_indexed" =>
          if (!allowSharding) throw new UnsupportedOperationException(
            "nested sharding_indexed codecs are not supported")
          require(comp == "raw" && shard.isEmpty && cOrder,
            "sharding_indexed must be the chain's only array->bytes codec")
          val inner = parseCodecsV3(
            cfg("codecs").asInstanceOf[Vector[Any]], rank, allowSharding = false)
          val idx = parseCodecsV3(
            cfg.getOrElse("index_codecs",
              Vector(Map("name" -> "bytes"), Map("name" -> "crc32c")))
              .asInstanceOf[Vector[Any]], 1, allowSharding = false)
          require(idx.comp == "raw", "index_codecs must be bytes [+ crc32c]")
          shard = Some(ShardMeta(asLongs(cfg("chunk_shape")),
            inner.little, inner.cOrder, inner.comp, inner.crc,
            cfg.getOrElse("index_location", "end") == "end",
            idx.crc, idx.little, inner.vlen))
        case other => throw new IllegalArgumentException(s"unsupported v3 codec '$other'")
      }
    }
    CodecChain(little, cOrder, comp, crc, shard, vlen)
  }

  /** All arrays in a store: from consolidated metadata (`.zmetadata` —
    * the single-fetch index cloud producers write so object stores need
    * no LIST calls; array names are its `<name>/.zarray` keys), else by
    * listing subdirectories holding a `.zarray`, else the store root
    * itself for a bare-array store. When `.zmetadata` is present it is
    * AUTHORITATIVE and the per-array `.zarray`/`.zattrs` files are not
    * consulted at all (xarray `consolidated=True` semantics — ZarrSpec
    * pins that deleted per-array files still resolve). Caveat inherited
    * from the format: a store whose per-array metadata was edited
    * without re-consolidating serves the STALE consolidated copy, same
    * as xarray/zarr-python. */
  def readMeta(store: String): Seq[ZArray] = {
    val conf = dConf
    require(FsIo.isDirectory(conf, store), s"$store is not a directory")
    val root = store.stripSuffix("/")
    val zmeta = root + "/.zmetadata"
    if (FsIo.isFile(conf, zmeta)) {
      // consolidated metadata: ONE document read resolves every array —
      // the whole point of consolidation on an object store, where the
      // per-array form costs 3 round trips (.zarray stat+read, .zattrs)
      // per array. The embedded documents are verbatim copies, so the
      // parse is shared with the per-file path (arrayMetaV2).
      val m = Json.parse(readText(conf, zmeta)).asInstanceOf[Map[String, Any]]
      require(m("zarr_consolidated_format").asInstanceOf[Double].toInt == 1,
        "only consolidated-metadata format 1")
      val md = m("metadata").asInstanceOf[Map[String, Any]]
      md.keys.filter(k => k.endsWith("/.zarray"))
        .map(_.stripSuffix("/.zarray")).toSeq.sorted
        .map { nm =>
          arrayMetaV2(store, nm,
            md(s"$nm/.zarray").asInstanceOf[Map[String, Any]],
            md.get(s"$nm/.zattrs").map(_.asInstanceOf[Map[String, Any]]))
        }
    } else if (FsIo.isFile(conf, root + "/.zarray")) Seq(readArrayMeta(store, ""))
    else if (FsIo.isFile(conf, root + "/zarr.json")) {
      // v3 store: one zarr.json per node; a group's arrays are its
      // immediate children whose zarr.json says node_type=array
      val m = Json.parse(readText(conf, root + "/zarr.json")).asInstanceOf[Map[String, Any]]
      m("node_type") match {
        case "array" => Seq(readArrayMeta(store, ""))
        case "group" => FsIo.listDirNames(conf, root).filter { d =>
            val z = root + "/" + d + "/zarr.json"
            FsIo.isFile(conf, z) &&
              Json.parse(readText(conf, z)).asInstanceOf[Map[String, Any]]
                .get("node_type").contains("array")
          }.map(readArrayMeta(store, _)).sortBy(_.name)
        case other => throw new IllegalArgumentException(s"unknown node_type '$other'")
      }
    }
    else FsIo.listDirNames(conf, root).flatMap { d =>
      // unconsolidated fallback: v2 children (.zarray) and v3 array
      // children (zarr.json) both count — mixed stores happen when a v3
      // array is added to a v2-era directory. A malformed child (no
      // node_type) is SKIPPED like any other non-array dir, not a crash.
      if (FsIo.isFile(conf, root + "/" + d + "/.zarray")) Some(readArrayMeta(store, d))
      else if (FsIo.isFile(conf, root + "/" + d + "/zarr.json") &&
          Json.parse(readText(conf, root + "/" + d + "/zarr.json"))
            .asInstanceOf[Map[String, Any]].get("node_type").contains("array"))
        Some(readArrayMeta(store, d))
      else None
    }.sortBy(_.name)
  }

  // ---------------- executor-side chunk decode ----------------

  /** Undo the codec named in `.zarray`. Blosc chunks — the xarray
    * `to_zarr` default — decode through [[Blosc.decode]]: memcpy'ed
    * (flags 0x2), byte-shuffled, bit-shuffled and split bodies, with
    * blosclz/lz4/zlib/zstd/snappy stream codecs; the delta filter is
    * rejected loudly unless `allowDelta` (see
    * `spark.graft.blosc.allowUnverifiedDelta`). */
  private[sources] def decompress(comp: String, in: Array[Byte], outLen: Int,
                                  allowDelta: Boolean = false): Array[Byte] =
    comp match {
      case "raw"  => in
      case "zlib" => Hdf5.inflate(in, outLen)
      case "gzip" =>
        val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(in))
        try {
          val out = new Array[Byte](outLen)
          var off = 0
          while (off < outLen) {
            val n = gz.read(out, off, outLen - off)
            if (n < 0) throw new java.io.IOException(
              s"truncated gzip chunk: got $off of $outLen bytes")
            off += n
          }
          out
        } finally gz.close()
      case "blosc" => Blosc.decode(in, outLen, allowUnverifiedDelta = allowDelta)
      case "zstd"  => // raw zstd frame (v3 codec; Spark ships zstd-jni)
        val dec = com.github.luben.zstd.Zstd.decompress(in, outLen)
        require(dec.length == outLen, s"zstd chunk decoded ${dec.length} of $outLen bytes")
        dec
      case other   => throw new IllegalArgumentException(s"codec $other")
    }

  /** Driver-side read of the blosc-delta opt-in (see [[Blosc.decode]]'s
    * unverified-layout caveat): evaluated when a reader builds its plan
    * and captured in the task closure, so it propagates to executors on
    * a real cluster without relying on mutable shared state. */
  private def allowUnverifiedDelta(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.blosc.allowUnverifiedDelta")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Strip a v3 `crc32c` codec's trailing 4-byte checksum, verifying it
    * (little-endian, per the spec) — corruption fails loudly instead of
    * decoding garbage. */
  private[sources] def stripCrc32c(all: Array[Byte], what: String): Array[Byte] = {
    require(all.length >= 4, s"$what shorter than its crc32c checksum")
    val body = java.util.Arrays.copyOfRange(all, 0, all.length - 4)
    val c = new java.util.zip.CRC32C()
    c.update(body, 0, body.length)
    val stored = java.nio.ByteBuffer.wrap(all, all.length - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    require(c.getValue == stored,
      f"$what crc32c mismatch: computed ${c.getValue}%08x, stored $stored%08x")
    body
  }

  /** Exact integer read (for filter arithmetic that must not round). */
  private def readLongAt(bb: java.nio.ByteBuffer, kind: Char, size: Int,
                         i: Int): Long = (kind, size) match {
    case ('i', 8)            => bb.getLong(i * 8)
    case ('i', 4)            => bb.getInt(i * 4).toLong
    case ('i', 2)            => bb.getShort(i * 2).toLong
    case ('i', 1)            => bb.get(i).toLong
    case ('u', 4)            => bb.getInt(i * 4).toLong & 0xFFFFFFFFL
    case ('u', 2)            => (bb.getShort(i * 2) & 0xFFFF).toLong
    case ('u', 1) | ('b', 1) => (bb.get(i) & 0xFF).toLong
    case other => throw new IllegalArgumentException(s"integer dtype $other")
  }

  private def isIntKind(k: Char): Boolean = k == 'i' || k == 'u' || k == 'b'

  /** Undo a numcodecs `filters` chain: view the decompressed bytes as the
    * LAST filter's astype, then walk the chain in reverse, each step
    * producing values in that filter's dtype. Integer representations stay
    * in exact Long arithmetic (wraparound = numpy's) until a float step. */
  private[sources] def unfilter(bytes: Array[Byte], allFilters: Seq[ZFilter],
                                nElems: Int, arrKind: Char = 'f', arrSize: Int = 8,
                                arrLittle: Boolean = true): Array[Double] = {
    val (longs, dbls) = unfilterChannels(bytes, allFilters, nElems,
      arrKind, arrSize, arrLittle)
    if (dbls != null) dbls else longs.map(_.toDouble)
  }

  /** Exact-Long unfilter for int64 epoch/duration arrays
    * (datetime64/timedelta64): same chain walk as [[unfilter]], but the
    * chain must stay in the integer channel end-to-end — a float step
    * (quantize/bitround/float delta) would round ns epochs past 2^53. */
  private[sources] def unfilterInt64(bytes: Array[Byte], allFilters: Seq[ZFilter],
                                     nElems: Int, arrLittle: Boolean): Array[Long] = {
    val (longs, _) = unfilterChannels(bytes, allFilters, nElems, 'i', 8, arrLittle)
    require(longs != null,
      "datetime64/timedelta64 filter chains must stay integer end-to-end " +
        s"(got [${allFilters.map(_.id).mkString(",")}] — a float step " +
        "would round int64 epochs past 2^53)")
    longs
  }

  private def unfilterChannels(bytes: Array[Byte], allFilters: Seq[ZFilter],
                               nElems: Int, arrKind: Char, arrSize: Int,
                               arrLittle: Boolean): (Array[Long], Array[Double]) = {
    // numcodecs `shuffle` is a BYTE transpose over whatever the value
    // chain serialized — it only composes at the stream end (anything
    // after it would see transposed bytes), so trailing entries are
    // undone first (HDF5-identical transpose incl. pass-through tail)
    // and anything else is rejected loudly, not misread
    val nShuf = allFilters.reverseIterator.takeWhile(_.id == "shuffle").size
    val (filters, shufs) = allFilters.splitAt(allFilters.length - nShuf)
    require(filters.forall(_.id != "shuffle"),
      "numcodecs shuffle supported only as trailing filter(s)")
    var buf = bytes
    shufs.reverse.foreach(f => buf = Hdf5.unshuffle(buf, f.dtSize))
    // view as the last VALUE filter's astype — or the array dtype when
    // the chain was shuffle-only
    val (vKind, vSize, vLittle) = filters.lastOption
      .map(l => (l.asKind, l.asSize, l.asLittle))
      .getOrElse((arrKind, arrSize, arrLittle))
    require(buf.length >= nElems * vSize,
      s"filtered chunk has ${buf.length} bytes, need ${nElems * vSize}")
    val bb = java.nio.ByteBuffer.wrap(buf)
    bb.order(if (vLittle) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    var longs: Array[Long] =
      if (isIntKind(vKind))
        Array.tabulate(nElems)(readLongAt(bb, vKind, vSize, _))
      else null
    var dbls: Array[Double] =
      if (longs == null) Array.tabulate(nElems)(decodeAt(bb, vKind, vSize, _))
      else null
    filters.reverseIterator.foreach { f =>
      f.id match {
        case "delta" => // cumsum computed in dtype (numcodecs: np.cumsum(..., dtype))
          if (isIntKind(f.dtKind)) {
            val src: Int => Long =
              if (longs != null) i => longs(i) else i => dbls(i).toLong
            val out = new Array[Long](nElems)
            var acc = 0L; var i = 0
            while (i < nElems) { acc += src(i); out(i) = acc; i += 1 }
            longs = out; dbls = null
          } else {
            val src: Int => Double =
              if (dbls != null) i => dbls(i) else i => longs(i).toDouble
            val out = new Array[Double](nElems)
            var acc = 0.0; var i = 0
            val f4 = f.dtSize == 4
            while (i < nElems) {
              acc += src(i)
              if (f4) acc = acc.toFloat.toDouble // float32 cumsum rounds per step
              out(i) = acc; i += 1
            }
            dbls = out; longs = null
          }
        case "quantize" | "bitround" =>
          // decode is an astype→dtype cast only (the decimal/mantissa
          // rounding happened at encode and is irreversible by design)
          val src: Int => Double =
            if (dbls != null) i => dbls(i) else i => longs(i).toDouble
          val f4 = f.dtSize == 4
          val out = Array.tabulate(nElems) { i =>
            val v = src(i); if (f4) v.toFloat.toDouble else v
          }
          dbls = out; longs = null
        case "fixedscaleoffset" => // enc/scale + offset, cast to dtype
          val src: Int => Double =
            if (longs != null) i => longs(i).toDouble else i => dbls(i)
          if (isIntKind(f.dtKind)) {
            val out = Array.tabulate(nElems)(i => (src(i) / f.scale + f.offset).toLong)
            longs = out; dbls = null
          } else {
            val f4 = f.dtSize == 4
            val out = Array.tabulate(nElems) { i =>
              val v = src(i) / f.scale + f.offset
              if (f4) v.toFloat.toDouble else v
            }
            dbls = out; longs = null
          }
        case other => throw new IllegalArgumentException(s"filter $other")
      }
    }
    (longs, dbls)
  }

  private[sources] def decodeAt(bb: java.nio.ByteBuffer, kind: Char, size: Int,
                                i: Int): Double = (kind, size) match {
    case ('f', 8) => bb.getDouble(i * 8)
    case ('f', 4) => bb.getFloat(i * 4).toDouble
    case ('i', 8) => bb.getLong(i * 8).toDouble
    case ('i', 4) => bb.getInt(i * 4).toDouble
    case ('i', 2) => bb.getShort(i * 2).toDouble
    case ('i', 1) => bb.get(i).toDouble
    case ('u', 4) => (bb.getInt(i * 4).toLong & 0xFFFFFFFFL).toDouble
    case ('u', 2) => (bb.getShort(i * 2) & 0xFFFF).toDouble
    case ('u', 1) => (bb.get(i) & 0xFF).toDouble
    case ('b', 1) => (bb.get(i) & 0xFF).toDouble
    case other    => throw new IllegalArgumentException(s"dtype $other")
  }

  /** One array as a long-format DataFrame: one INT column per dimension
    * (`i0`, `i1`, … — or the `_ARRAY_DIMENSIONS` names when present) +
    * `value` DOUBLE, CF-unpacked (fill → NULL, then scale/offset) with
    * the same contract as [[NetCDF.readVariable]] / [[Hdf5.readVariable]]. */
  def readVariable(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require("fiub".indexOf(za.dtKind) >= 0,
      s"${za.name}: dtype kind '${za.dtKind}' is not numeric — " +
        "use readStrings/readBinary/readDatetimes/readTimedeltas")
    import spark.implicits._
    // absent chunks emit fill_value, or nothing when there is none
    val raw: org.apache.spark.sql.Dataset[(Array[Long], Double)] =
      chunkWalk(spark, za, store, name, za.fillValue)(
        numericBlock(za.dtKind, za.dtSize, allowUnverifiedDelta(spark))).toDS()
    val df = dimFrame(za, raw.toDF(), col("_2"))
    val fill = za.attrs.get("_FillValue").orElse(za.attrs.get("missing_value"))
      .orElse(za.fillValue.filterNot(_.isNaN))
    val masked = NetCDF.cfUnpack(df, fill, za.attrs.getOrElse("scale_factor", 1.0),
      za.attrs.getOrElse("add_offset", 0.0))
    // NaN fill (xarray default for floats) can't be caught by equality above
    if (za.fillValue.exists(_.isNaN))
      masked.withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
    else masked
  }

  /** Numeric block decoder shared by [[readVariable]] and
    * [[readVectors]]: decompress to the stored width, then undo the
    * numcodecs filter chain ([[unfilter]]) or view the bytes as the
    * dtype ([[decodeAt]]). The decoder captures only its three arguments. */
  private def numericBlock(kind: Char, size: Int,
                           allowDelta: Boolean): ZBlock => Int => Double = { b =>
    val plain = decompress(b.comp, b.bytes, b.nElems * storedWidth(b.filters, size),
      allowDelta)
    if (b.filters.nonEmpty) {
      val arr = unfilter(plain, b.filters, b.nElems, kind, size, b.little)
      arr(_)
    } else {
      val bb = order(plain, b.little)
      decodeAt(bb, kind, size, _)
    }
  }

  /** Stored element width: the last VALUE filter's astype, else the
    * array dtype's (a trailing numcodecs shuffle transposes bytes
    * without changing the width). */
  private def storedWidth(filters: Seq[ZFilter], size: Int): Int =
    filters.filterNot(_.id == "shuffle").lastOption.map(_.asSize).getOrElse(size)

  /** String arrays (Zarr v2 + v3 `string`) as (dim…, value STRING):
    * fixed-width `|Sn` (bytes, trailing NULs trimmed, UTF-8) and
    * `<Un`/`>Un` (UCS-4 code points, trailing zeros trimmed), plus `|O`
    * object arrays carrying one of the three numcodecs text-capable
    * object codecs — `vlen-utf8` (the published VLen layout
    * `[n_items u32 LE][len u32 LE + utf8 bytes]*`, zarr-python's default
    * text encoding), `msgpack2`, or `json2` (both: values followed by
    * dtype string + chunk shape, structure-validated — see
    * [[Msgpack]]). v3 sharded string arrays decode through the shard
    * index with inner vlen-utf8 chunks. Absent chunks yield NULL values;
    * a python `None` element decodes to NULL. Read through
    * [[chunkWalk]]: the driver touches only metadata, executors read only
    * their chunk files (C and F element orders both decode).
    * Out of scope, rejected loudly: the `pickle` object codec. */
  def readStrings(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require("SUO".indexOf(za.dtKind) >= 0,
      s"${za.name}: dtype kind '${za.dtKind}' is numeric — use readVariable")
    val isObj = za.dtKind == 'O'
    val objCodec = if (isObj) {
      require(za.filters.length == 1 &&
          Set("vlen-utf8", "msgpack2", "json2")(za.filters.head.id),
        s"${za.name}: object string arrays need exactly one of the " +
          "vlen-utf8/msgpack2/json2 object codecs, " +
          s"got [${za.filters.map(_.id).mkString(",")}]")
      za.filters.head.id
    } else ""
    if (!isObj) {
      require(za.sharding.isEmpty && !za.crc32c,
        s"${za.name}: fixed-width string dtypes supported for plain v2 chunks only")
      require(za.filters.isEmpty,
        s"${za.name}: fixed-width string arrays take no filters, " +
          s"got [${za.filters.map(_.id).mkString(",")}]")
    }
    import spark.implicits._
    val (kind, width) = (za.dtKind, za.dtSize)
    val allowDelta = allowUnverifiedDelta(spark)
    val raw: org.apache.spark.sql.Dataset[(Array[Long], String)] =
      chunkWalk(spark, za, store, name, Some(null: String)) { b =>
        if (isObj) {
          val strs = decodeObjectStrings(objCodec,
            inflateObject(b.comp, b.bytes, b.key), b.nElems, b.key)
          strs(_)
        } else {
          val plain = decompress(b.comp, b.bytes, b.nElems * width, allowDelta)
          val bb = order(plain, b.little)
          val get: Int => String = { i =>
            val off = i * width
            if (kind == 'S') {
              var end = off + width
              while (end > off && plain(end - 1) == 0) end -= 1
              new String(plain, off, end - off,
                java.nio.charset.StandardCharsets.UTF_8)
            } else { // 'U': UCS-4 code points, zero-padded
              var n = width / 4
              while (n > 0 && bb.getInt(off + (n - 1) * 4) == 0) n -= 1
              val sb = new java.lang.StringBuilder(n)
              var j = 0
              while (j < n) { sb.appendCodePoint(bb.getInt(off + j * 4)); j += 1 }
              sb.toString
            }
          }
          get
        }
      }.toDS()
    dimFrame(za, raw.toDF(), col("_2"))
  }

  /** `|O` + numcodecs `vlen-bytes` or `msgpack2` object arrays → one
    * BINARY row per element — the binary-payload-in-zarr shape
    * (audio/image tiles, tokenized blobs) corpus stores carry next to
    * their text columns (`json2` is rejected: JSON has no binary type,
    * so numcodecs' JSON codec cannot encode bytes). Read through
    * [[chunkWalk]] with NULL for absent chunks; each executor touches
    * only its chunk files. */
  def readBinary(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require(za.dtKind == 'O',
      s"${za.name}: dtype kind '${za.dtKind}' is not an object array — " +
        "use readVariable/readStrings")
    require(za.filters.length == 1 &&
        Set("vlen-bytes", "msgpack2")(za.filters.head.id),
      s"${za.name}: readBinary needs the vlen-bytes or msgpack2 object codec, " +
        s"got [${za.filters.map(_.id).mkString(",")}] (json2 cannot carry bytes)")
    val objCodec = za.filters.head.id
    require(za.sharding.isEmpty,
      s"${za.name}: binary object arrays supported for plain (unsharded) chunks only")
    import spark.implicits._
    val raw: org.apache.spark.sql.Dataset[(Array[Long], Array[Byte])] =
      chunkWalk(spark, za, store, name, Some(null: Array[Byte])) { b =>
        val items = decodeObjectBytes(objCodec,
          inflateObject(b.comp, b.bytes, b.key), b.nElems, b.key)
        items(_)
      }.toDS()
    dimFrame(za, raw.toDF(), col("_2"))
  }

  /** `datetime64` arrays (`<M8[ns]` … `<M8[D]`, v2 or v3
    * `numpy.datetime64`) as (dim…, value TIMESTAMP): epoch int64 in the
    * dtype's unit, converted to microseconds with EXACT Long arithmetic
    * (an ns timestamp exceeds 2^53 ~104 days after 1970, so the Double
    * channel of [[readVariable]] would silently round it). numpy's NaT
    * sentinel (Long.MinValue) and absent chunks read as NULL;
    * sub-microsecond ns precision truncates toward -∞ (floorDiv),
    * matching Spark's own nanosecond-parquet narrowing. Integer-channel
    * numcodecs filter chains (Delta-on-i8, the canonical monotonic-time
    * recipe) and v3 sharded stores decode through the same machinery as
    * the numeric readers; float filter steps reject loudly. */
  def readDatetimes(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require(za.dtKind == 'M',
      s"${za.name}: dtype kind '${za.dtKind}' is not datetime64 — " +
        "use readVariable/readStrings/readTimedeltas")
    dimFrame(za, readEpochMicros(spark, za, store, name, "datetime64"),
      timestamp_micros(col("_2")))
  }

  /** `timedelta64` arrays (`<m8[ns]` … `<m8[D]`, v2 or v3
    * `numpy.timedelta64`) as (dim…, value INTERVAL DAY TO SECOND):
    * duration int64 in the dtype's unit → exact-Long microseconds →
    * Spark's micros-backed `DayTimeIntervalType` via `make_dt_interval`
    * (days + exact decimal seconds, so no double rounding). NaT and
    * absent chunks read as NULL; ns truncates toward -∞ like
    * [[readDatetimes]]. Same filter/shard support as the datetime
    * reader. */
  def readTimedeltas(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require(za.dtKind == 'm',
      s"${za.name}: dtype kind '${za.dtKind}' is not timedelta64 — " +
        "use readVariable/readStrings/readDatetimes")
    // micros → interval without a float step: pmod keeps the seconds
    // part in [0, 86400) so negative totals carry in the day component;
    // `div` (not `/`) keeps the day division in exact Long arithmetic —
    // a Long / Long goes through Double and rounds past 2^53
    val df0 = readEpochMicros(spark, za, store, name, "timedelta64")
      .withColumn("__rem", pmod(col("_2"), lit(86400000000L)))
      .withColumn("__days", expr("(_2 - __rem) div 86400000000").cast("int"))
    val secs = col("__rem").cast("decimal(18,0)") / lit(1000000).cast("decimal(9,0)")
    dimFrame(za, df0, make_dt_interval(col("__days"), lit(0), lit(0), secs))
  }

  /** dtype unit → exact micros conversion: (multiplier, divisor); one of
    * them is always 1, so `floorDiv(multiplyExact(v, mul), div)` is exact
    * Long arithmetic end-to-end. */
  private def epochUnitToMicros(name: String, unit: String,
                                what: String): (Long, Long) = unit match {
    case "ns" => (1L, 1000L)
    case "us" => (1L, 1L)
    case "ms" => (1000L, 1L)
    case "s"  => (1000000L, 1L)
    case "m"  => (60000000L, 1L)
    case "h"  => (3600000000L, 1L)
    case "D"  => (86400000000L, 1L)
    case u => throw new IllegalArgumentException(
      s"$name: $what unit '$u' unsupported (ns/us/ms/s/m/h/D)")
  }

  /** Epoch/duration arrays as (`_1` indices, `_2` micros): [[chunkWalk]]
    * with an element channel that is Long end-to-end (the numcodecs chain
    * through [[unfilterInt64]]), values converted to micros via the
    * unit's `mul`/`div`. Absent chunks/shards and the numpy NaT sentinel
    * yield None. */
  private def readEpochMicros(spark: SparkSession, za: ZArray, store: String,
                              name: String, what: String): DataFrame = {
    import spark.implicits._
    val (mul, div) = epochUnitToMicros(za.name, za.dtUnit, what)
    val allowDelta = allowUnverifiedDelta(spark)
    val raw: org.apache.spark.sql.Dataset[(Array[Long], Option[Long])] =
      chunkWalk(spark, za, store, name, Some(None: Option[Long])) { b =>
        val plain = decompress(b.comp, b.bytes, b.nElems * storedWidth(b.filters, 8),
          allowDelta)
        val get: Int => Long =
          if (b.filters.nonEmpty) {
            val arr = unfilterInt64(plain, b.filters, b.nElems, b.little)
            arr(_)
          } else {
            val bb = order(plain, b.little)
            i => bb.getLong(i * 8)
          }
        i => {
          val v = get(i)
          if (v == Long.MinValue) None // numpy NaT
          else Some(Math.floorDiv(Math.multiplyExact(v, mul), div))
        }
      }.toDS()
    raw.toDF()
  }

  /** A CF-ENCODED time coordinate — a numeric array carrying
    * `units = "<step> since <epoch>"` (+ optional `calendar`) attrs, the
    * encoding xarray's `to_zarr` writes for every time axis (far more
    * common in the wild than raw datetime64 arrays) — decoded through
    * [[CfTime.decode]]: TIMESTAMP for standard calendars,
    * (year, doy, us_of_day) companion columns for
    * noleap/all_leap/360_day. Masked fills stay NULL. */
  def readTimeCoordinate(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    val units = za.strAttrs.getOrElse("units", throw new IllegalArgumentException(
      s"${za.name}: no 'units' attribute — not a CF time coordinate " +
        "(raw datetime64 arrays go through readDatetimes)"))
    val calendar = za.strAttrs.getOrElse("calendar", "standard")
    CfTime.decode(readVariable(spark, store, name), "value", units, calendar)
  }

  /** 2-D numeric arrays as VECTOR rows — the embedding-matrix ingest
    * shape the ANN tier consumes: an (n, dim) store becomes
    * (i, vec ARRAY<DOUBLE>) with one row per leading index. Requires the
    * trailing dimension UNCHUNKED (the layout embedding dumps use —
    * each chunk is a batch of whole rows) and C order, so every stored
    * chunk holds whole vectors; executors emit their own chunks' rows
    * and the driver touches only metadata (the same range-based
    * [[chunkCoordRdd]] as [[chunkWalk]], emitting whole rows, and the
    * same [[numericBlock]] decoder as [[readVariable]]). Absent chunks →
    * NULL vectors. CF unpacking is
    * NOT applied — embedding matrices don't carry fill/scale masks, and
    * silently masking vector components would corrupt similarity math —
    * so declared scale/offset attrs reject loudly. numcodecs filter
    * chains and crc32c decode through the shared machinery; sharding is
    * out of scope here. */
  def readVectors(spark: SparkSession, store: String, name: String): DataFrame = {
    val za = readArrayMeta(store, name)
    require("fiub".indexOf(za.dtKind) >= 0,
      s"${za.name}: dtype kind '${za.dtKind}' is not numeric")
    require(za.shape.length == 2,
      s"${za.name}: readVectors needs a 2-D array, got rank ${za.shape.length}")
    require(za.chunks(1) == za.shape(1),
      s"${za.name}: the trailing dim must be unchunked for whole-vector " +
        s"chunks (chunks ${za.chunks.mkString("x")} vs shape ${za.shape.mkString("x")})")
    require(za.cOrder, s"${za.name}: readVectors supports C order only")
    require(za.sharding.isEmpty, s"${za.name}: sharded vector stores unsupported")
    require(!za.attrs.contains("scale_factor") && !za.attrs.contains("add_offset") &&
        !za.attrs.contains("_FillValue") && !za.attrs.contains("missing_value"),
      s"${za.name}: CF unpack attrs on a vector matrix are not applied — " +
        "read through readVariable for masked/scaled grids")
    import spark.implicits._
    val n = za.shape.head
    val dim = za.shape(1).toInt
    val lead = za.chunks.head
    val nLeadChunks = ((n + lead - 1) / lead).toInt
    val dir = childPath(store, name)
    val fsSnap = FsIo.snapshot(spark)
    val (comp, sep, crc) = (za.compressor, za.dimSeparator, za.crc32c)
    val (little, keyPrefix, filters) = (za.littleEndian, za.keyPrefix, za.filters)
    val decode = numericBlock(za.dtKind, za.dtSize, allowUnverifiedDelta(spark))
    val chunkElems = (lead * dim).toInt
    val raw: org.apache.spark.sql.Dataset[(Long, Array[Double])] =
      chunkCoordRdd(spark, Array(nLeadChunks, 1)).flatMap { cc =>
        val key = keyPrefix + cc.mkString(sep)
        val rowsHere = math.min(lead, n - cc(0).toLong * lead).toInt
        FsIo.readAllIfExists(fsSnap.value, dir + "/" + key) match {
          case None => // absent chunk → NULL vectors
            (0 until rowsHere).iterator.map(r =>
              (cc(0).toLong * lead + r, null.asInstanceOf[Array[Double]]))
          case Some(all) =>
            val get = decode(ZBlock(if (crc) stripCrc32c(all, key) else all,
              comp, little, filters, chunkElems, key))
            (0 until rowsHere).iterator.map { r =>
              (cc(0).toLong * lead + r, Array.tabulate(dim)(c => get(r * dim + c)))
            }
        }
      }.toDS()
    raw.toDF(dimNames(za).head, "vec")
  }

  /** One stored block handed to a reader's decoder: the bytes of a whole
    * chunk (crc32c stripped; the array's compressor, byte order and
    * filters) or of one inner chunk of a shard (the shard's inner codec,
    * no filters), with its element count and the key errors name. */
  private final case class ZBlock(bytes: Array[Byte], comp: String, little: Boolean,
                                  filters: Seq[ZFilter], nElems: Int, key: String)

  /** The executor-side chunk walk every element reader shares: one
    * [[chunkCoordRdd]] over the chunk grid; per chunk the key and path,
    * the crc32c strip, and either the plain chunk or the shard's inner
    * chunks ([[readShardBodies]]: I/O eager, so the handle closes before
    * the lazy element iterator runs; decode lazy, so peak memory is the
    * compressed shard). Each present block goes through `decode`; its
    * elements are unraveled in the block's own order (C: last dim
    * fastest; F: first dim fastest), offset to global indices and
    * clipped past the array edge (edge blocks store a full grid). An
    * absent chunk, shard or inner chunk — legal in Zarr — emits `absent`
    * per element, or nothing when `absent` is None. */
  private def chunkWalk[T](spark: SparkSession, za: ZArray, store: String, name: String,
                           absent: Option[T])(decode: ZBlock => Int => T)
      : org.apache.spark.rdd.RDD[(Array[Long], T)] = {
    val rank = za.shape.length
    val dims = za.shape.toArray
    val cdims = za.chunks.toArray
    val nChunksPerDim = Array.tabulate(rank)(d => ((dims(d) + cdims(d) - 1) / cdims(d)).toInt)
    val dir = childPath(store, name)
    val fsSnap = FsIo.snapshot(spark) // chunk fetches go through Hadoop FS
    val (comp, little, filters, crc) = (za.compressor, za.littleEndian, za.filters, za.crc32c)
    val (keyPrefix, sep, cOrder) = (za.keyPrefix, za.dimSeparator, za.cOrder)
    val sharding = za.sharding
    val chunkElems = cdims.product.toInt
    chunkCoordRdd(spark, nChunksPerDim).flatMap { cc =>
      // the elements of one block of shape `bdims` at `origin` within chunk cc
      def emit(data: Option[Int => T], bdims: Array[Long], origin: Array[Long],
               blockCOrder: Boolean): Iterator[(Array[Long], T)] =
        if (data.isEmpty && absent.isEmpty) Iterator.empty
        else {
          val value: Int => T = data.getOrElse { val a = absent.get; (_: Int) => a }
          (0 until bdims.product.toInt).iterator.flatMap { flat =>
            var rem = flat.toLong
            val idx = new Array[Long](rank)
            if (blockCOrder) {
              var i = rank - 1
              while (i >= 0) { idx(i) = rem % bdims(i); rem /= bdims(i); i -= 1 }
            } else {
              var i = 0
              while (i < rank) { idx(i) = rem % bdims(i); rem /= bdims(i); i += 1 }
            }
            var inBounds = true
            var j = 0
            while (j < rank) {
              idx(j) += cc(j).toLong * cdims(j) + origin(j)
              if (idx(j) >= dims(j)) inBounds = false
              j += 1
            }
            if (!inBounds) None else Some((idx, value(flat)))
          }
        }
      val key = keyPrefix + cc.mkString(sep)
      val fPath = dir + "/" + key
      sharding match {
        case None =>
          val data = FsIo.readAllIfExists(fsSnap.value, fPath).map { all =>
            decode(ZBlock(if (crc) stripCrc32c(all, key) else all,
              comp, little, filters, chunkElems, key))
          }
          emit(data, cdims, new Array[Long](rank), cOrder)
        case Some(sh) =>
          // one shard file = inner chunks + (offset, nbytes) index;
          // range-read the index, then only the present inner chunks —
          // the executor-side analogue of object-store ranged GETs
          val ich = sh.innerChunks.toArray
          val innerPerDim = Array.tabulate(rank)(d => (cdims(d) / ich(d)).toInt)
          val nInner = innerPerDim.product
          val innerElems = ich.product.toInt
          def innerOrigin(si: Int): Array[Long] = { // C order over the inner grid
            val icc = new Array[Long](rank)
            var rem = si; var i = rank - 1
            while (i >= 0) { icc(i) = (rem % innerPerDim(i)).toLong * ich(i)
              rem /= innerPerDim(i); i -= 1 }
            icc
          }
          val bodies =
            if (FsIo.isFile(fsSnap.value, fPath)) readShardBodies(fsSnap.value, fPath, nInner, sh)
            else IndexedSeq.fill(nInner)(None) // absent shard = every inner chunk absent
          (0 until nInner).iterator.flatMap { si =>
            emit(bodies(si).map(b => decode(ZBlock(b, sh.innerComp, sh.innerLittle,
                Nil, innerElems, s"$key#$si"))),
              ich, innerOrigin(si), sh.innerCOrder)
          }
      }
    }
  }

  /** Dimension column names: the `_ARRAY_DIMENSIONS` / v3
    * `dimension_names` when present for every axis, else `i0`, `i1`, … */
  private def dimNames(za: ZArray): Seq[String] = {
    val rank = za.shape.length
    if (za.dimNames.length == rank) za.dimNames else (0 until rank).map(i => s"i$i")
  }

  /** A walked reader's (dim…, value) projection: `_1`'s indices as INT
    * dimension columns ([[dimNames]]) plus `value`. */
  private def dimFrame(za: ZArray, raw: DataFrame,
                       value: org.apache.spark.sql.Column): DataFrame = {
    val names = dimNames(za)
    raw.select(names.indices.map(i => col("_1")(i).cast("int").as(names(i))) :+
      value.as("value"): _*)
  }
  /** Chunk-coordinate RDD with NO driver-side materialization: a
    * `sparkContext.range` over the flat chunk count, unraveled to grid
    * coordinates on executors (C order over the chunk grid, matching
    * the store's key enumeration). A 100 TB store at ~1 MB chunks is
    * ~10^8 coordinates — several GB of driver heap if built as a list
    * and serialized into tasks; `range` ships only a (start, end) pair
    * per partition, so the driver cost is flat in the chunk count.
    * Slice count scales with BOTH chunk count and cluster size: a
    * 1M-chunk store on a large cluster must not serialise through 64
    * tasks, while a 4-chunk fixture must not schedule 256 empties. */
  private def chunkCoordRdd(spark: SparkSession, nChunksPerDim: Array[Int])
      : org.apache.spark.rdd.RDD[Array[Int]] = {
    val rank = nChunksPerDim.length
    val total = nChunksPerDim.foldLeft(1L)((a, n) => a * n)
    val slices = math.max(1L, math.min(total,
      math.max(64, spark.sparkContext.defaultParallelism * 2).toLong)).toInt
    spark.sparkContext.range(0L, total, numSlices = slices).map { flat =>
      val cc = new Array[Int](rank)
      var rem = flat
      var i = rank - 1
      while (i >= 0) {
        cc(i) = (rem % nChunksPerDim(i)).toInt; rem /= nChunksPerDim(i); i -= 1
      }
      cc
    }
  }

  private def order(bb: Array[Byte], le: Boolean): java.nio.ByteBuffer = {
    val b = java.nio.ByteBuffer.wrap(bb)
    b.order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    b
  }

  /** Read a shard file's inner-chunk bodies EAGERLY (the handle closes
    * before lazy element decode runs): the (offset, nbytes) u64-pair
    * index — at the shard's start or end, optionally crc32c'd — then
    * each present inner chunk's bytes, inner crc stripped. Missing
    * inner chunks ((2^64−1, 2^64−1) entries) come back None. */
  private[sources] def readShardBodies(conf: Configuration, path: String, nInner: Int,
                                       sh: ShardMeta): IndexedSeq[Option[Array[Byte]]] = {
    val fname = path.substring(path.lastIndexOf('/') + 1)
    val raf = FsIo.openSeekable(conf, path)
    try {
      val idxLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
      val idxBytes = new Array[Byte](idxLen)
      raf.seek(if (sh.indexAtEnd) raf.length - idxLen else 0L)
      raf.readFully(idxBytes)
      val ib = order(
        if (sh.indexCrc) stripCrc32c(idxBytes, s"$fname index")
        else idxBytes, sh.indexLittle)
      (0 until nInner).map { si =>
        val off = ib.getLong(si * 16)
        val nb = ib.getLong(si * 16 + 8)
        if (off == -1L && nb == -1L) None // missing inner chunk
        else {
          val body = new Array[Byte](nb.toInt)
          raf.seek(off)
          raf.readFully(body)
          Some(if (sh.innerCrc) stripCrc32c(body, s"$fname@$off")
            else body)
        }
      }
    } finally raf.close()
  }

  /** Decompress one vlen OBJECT chunk body: raw/zlib/gzip/zstd only —
    * NOT blosc (the vlen payload length is unknown before decode, and
    * no writer pairs blosc with a vlen codec). */
  private[sources] def inflateObject(c: String, in: Array[Byte],
                                     what: String): Array[Byte] =
    c match {
      case "raw"                    => in
      case "zlib" | "gzip" | "zstd" => inflateUnknown(c, in)
      case other => throw new IllegalArgumentException(
        s"$what: object chunks support raw/zlib/gzip/zstd, got '$other' " +
          "(vlen payload length is unknown before decode)")
    }

  /** Inflate a zlib/gzip/zstd stream of UNKNOWN decoded length (object
    * chunks carry no element width to size the buffer from; zstd frames
    * stream through ZstdInputStream rather than trusting the optional
    * frame-header content size). */
  private[sources] def inflateUnknown(comp: String, in: Array[Byte]): Array[Byte] =
    if (comp == "gzip") {
      val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(in))
      try {
        val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 4))
        val buf = new Array[Byte](8192)
        var n = gz.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = gz.read(buf) }
        out.toByteArray
      } finally gz.close()
    } else if (comp == "zstd") {
      val zin = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(in))
      try {
        val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 4))
        val buf = new Array[Byte](8192)
        var n = zin.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
        out.toByteArray
      } finally zin.close()
    } else {
      val inf = new java.util.zip.Inflater()
      inf.setInput(in)
      val out = new java.io.ByteArrayOutputStream(math.max(64, in.length * 4))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput())
          throw new java.io.IOException("truncated zlib object chunk")
        out.write(buf, 0, n)
      }
      inf.end()
      out.toByteArray
    }

  /** numcodecs VLen payload (VLenUTF8 and VLenBytes share the framing)
    * → one byte slice per chunk element: `[n_items u32 LE][len u32 LE +
    * bytes]*`; the item count must equal the chunk grid size (v2 edge
    * chunks store the full grid). */
  private[sources] def decodeVlenItems(plain: Array[Byte], nElems: Int,
                                       what: String): Array[Array[Byte]] = {
    require(plain.length >= 4, s"$what: vlen chunk shorter than its header")
    val bb = java.nio.ByteBuffer.wrap(plain).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt(0)
    require(n == nElems,
      s"$what: vlen header says $n items, chunk grid needs $nElems")
    val out = new Array[Array[Byte]](n)
    var off = 4
    var i = 0
    while (i < n) {
      require(off + 4 <= plain.length, s"$what: truncated vlen item $i")
      val len = bb.getInt(off); off += 4
      require(len >= 0 && off + len <= plain.length,
        s"$what: vlen item $i runs past the chunk ($len bytes at $off)")
      out(i) = java.util.Arrays.copyOfRange(plain, off, off + len)
      off += len
      i += 1
    }
    out
  }

  private[sources] def decodeVlenUtf8(plain: Array[Byte], nElems: Int,
                                      what: String): Array[String] =
    decodeVlenItems(plain, nElems, what)
      .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))

  /** numcodecs `MsgPack`/`JSON` object chunks: the payload is one
    * top-level sequence of the chunk's values followed by the dtype
    * string and the chunk shape (`buf.tolist() + [dtype.str, shape]`).
    * Structure is validated, never assumed: the trailing dtype must be
    * `|O` and the shape's product must equal the chunk grid, so a chunk
    * whose layout differs from this model fails loudly instead of
    * shifting values by two positions. Returns the value slots only. */
  private def objectCodecValues(codec: String, plain: Array[Byte],
                                nElems: Int, what: String): Vector[Any] = {
    val top: Vector[Any] = codec match {
      case "msgpack2" => Msgpack.decode(plain, what) match {
        case Msgpack.MArr(items) => items
        case other => throw new IllegalArgumentException(
          s"$what: msgpack2 chunk is not a top-level array (${other.getClass.getSimpleName})")
      }
      case "json2" => Json.parse(
        new String(plain, java.nio.charset.StandardCharsets.UTF_8)) match {
        case v: Vector[Any @unchecked] => v
        case other => throw new IllegalArgumentException(
          s"$what: json2 chunk is not a top-level array (${String.valueOf(other).take(40)})")
      }
      case other => throw new IllegalArgumentException(
        s"$what: unknown object codec '$other'")
    }
    require(top.length == nElems + 2,
      s"$what: $codec chunk has ${top.length} entries, expected $nElems values " +
        "+ dtype + shape")
    val dtype = top(nElems) match {
      case Msgpack.MStr(s) => s
      case s: String       => s
      case other => throw new IllegalArgumentException(
        s"$what: $codec dtype slot is not a string ($other)")
    }
    require(dtype == "|O",
      s"$what: $codec object chunk carries dtype '$dtype', expected '|O'")
    val shape: Seq[Long] = top(nElems + 1) match {
      case Msgpack.MArr(dims) => dims.map {
        case Msgpack.MLong(n) => n
        case other => throw new IllegalArgumentException(
          s"$what: $codec shape entry is not an integer ($other)")
      }
      case v: Vector[Any @unchecked] => v.map {
        case d: Double => d.toLong
        case other => throw new IllegalArgumentException(
          s"$what: $codec shape entry is not a number ($other)")
      }
      case other => throw new IllegalArgumentException(
        s"$what: $codec shape slot is not an array ($other)")
    }
    require(shape.product == nElems.toLong,
      s"$what: $codec shape [${shape.mkString(",")}] does not cover the " +
        s"$nElems-element chunk grid")
    top.take(nElems)
  }

  /** Object STRING chunk → per-element values (null = python None).
    * Non-string, non-null slots are a loud error: a string reader must
    * not silently stringify numbers a writer put in an object array. */
  private[sources] def decodeObjectStrings(codec: String, plain: Array[Byte],
                                           nElems: Int, what: String): Array[String] =
    if (codec == "vlen-utf8") decodeVlenUtf8(plain, nElems, what)
    else objectCodecValues(codec, plain, nElems, what).map {
      case Msgpack.MStr(s) => s
      case s: String       => s
      case Msgpack.MNull | null => null
      case other => throw new IllegalArgumentException(
        s"$what: $codec value slot is not a string ($other)")
    }.toArray

  /** Object BINARY chunk → per-element byte payloads (msgpack bin
    * family; python bytes under `use_bin_type=True`). */
  private[sources] def decodeObjectBytes(codec: String, plain: Array[Byte],
                                         nElems: Int, what: String): Array[Array[Byte]] =
    if (codec == "vlen-bytes") decodeVlenItems(plain, nElems, what)
    else objectCodecValues(codec, plain, nElems, what).map {
      case Msgpack.MBin(b) => b
      case Msgpack.MNull   => null
      case other => throw new IllegalArgumentException(
        s"$what: $codec value slot is not binary ($other)")
    }.toArray

  /** Deterministic closed-form fixture store for the oracle-checked ingest
    * query (the [[graft.pipeline.Multimodal.plantedPng]] pattern): array
    * `tas` double[6,5,4] (time, y, x) chunked [2,3,3] zlib C-order, raw
    * value `t*100 + 10y + x`, CF attrs scale 0.5 / offset 10 / fill -999,
    * with chunk `1.1.0` ABSENT (→ fill → NULL: t∈{2,3}, y∈{3,4}, x<3);
    * plus array `pr` double[6,5,4] single-chunk Blosc/lz4/shuffle (the
    * xarray `to_zarr` default codec), raw value `(t + y + x)/4`.
    * Exercises every moving part the spec-level tests pin — partial edge
    * chunks, zlib AND blosc decompression, absent-chunk fill, CF unpack,
    * named dims. */
  def plantedStore(store: String): Unit = {
    val dir = new File(store, "tas")
    dir.mkdirs()
    fxWrite(new File(dir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [6, 5, 4], "chunks": [2, 3, 3],
         | "dtype": "<f8", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": -999.0, "filters": null, "order": "C"}""").stripMargin
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fxWrite(new File(dir, ".zattrs"),
      ("""{"_ARRAY_DIMENSIONS": ["time", "y", "x"], "_FillValue": -999.0,
         | "scale_factor": 0.5, "add_offset": 10.0, "units": "K"}""").stripMargin
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    for (ct <- 0 until 3; cy <- 0 until 2; cx <- 0 until 2
         if !(ct == 1 && cy == 1 && cx == 0)) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (lt <- 0 until 2; ly <- 0 until 3; lx <- 0 until 3) {
        val (t, y, x) = (ct * 2 + lt, cy * 3 + ly, cx * 3 + lx)
        bb.putDouble(if (t < 6 && y < 5 && x < 4) t * 100.0 + y * 10.0 + x
          else 7777.0) // past-the-edge positions, clipped on read
      }
      val d = new java.util.zip.Deflater()
      d.setInput(bb.array()); d.finish()
      val out = new Array[Byte](bb.array().length + 64)
      val n = d.deflate(out)
      d.end()
      fxWrite(new File(dir, s"$ct.$cy.$cx"), out.take(n))
    }
    // pr: the xarray-default codec shape — Blosc/lz4, byte-shuffle, split
    // streams — double[6,5,4] in ONE chunk, raw value (t + y + x) * 0.25
    // (exact binary quarters), no fill/scale
    val prDir = new File(store, "pr")
    prDir.mkdirs()
    fxWrite(new File(prDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [6, 5, 4], "chunks": [6, 5, 4],
         | "dtype": "<f8", "compressor": {"id": "blosc", "cname": "lz4",
         |   "clevel": 5, "shuffle": 1, "blocksize": 0},
         | "fill_value": null, "filters": null, "order": "C"}""").stripMargin
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fxWrite(new File(prDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["time", "y", "x"], "units": "mm"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val prBytes = java.nio.ByteBuffer.allocate(6 * 5 * 4 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (t <- 0 until 6; y <- 0 until 5; x <- 0 until 4)
      prBytes.putDouble((t + y + x) * 0.25)
    fxWrite(new File(prDir, "0.0.0"), Blosc.encode(prBytes.array(), typesize = 8))
  }

  /** Closed-form STRING fixture store for [[readStrings]]: array `labels`
    * |O + vlen-utf8 + zlib, shape [6] chunks [3], value `doc_<i>_αβ`
    * (multi-byte UTF-8 exercised); array `tags` |S8 zlib, shape [5,3]
    * chunks [2,2] with chunk `2.1` ABSENT (cell (4,2) → NULL), value
    * `s<r>_<c>` NUL-padded; array `names` >U5 raw BIG-endian UCS-4,
    * shape [4] chunks [4], value `n<i>é` zero-padded. */
  def plantedStringStore(store: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // labels: |O vlen-utf8, zlib
    val lDir = new File(store, "labels"); lDir.mkdirs()
    fxWrite(new File(lDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [6], "chunks": [3],
         | "dtype": "|O", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": 0, "filters": [{"id": "vlen-utf8"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(lDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["doc"]}""".getBytes(utf8))
    for (c <- 0 until 2) {
      val items = (0 until 3).map(j => s"doc_${c * 3 + j}_αβ".getBytes(utf8))
      fxWrite(new File(lDir, s"$c"), fxDeflate(vlenBytes(items)))
    }
    // tags: |S8 fixed bytes, zlib, edge chunks + one absent chunk
    val tDir = new File(store, "tags"); tDir.mkdirs()
    fxWrite(new File(tDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [5, 3], "chunks": [2, 2],
         | "dtype": "|S8", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": "", "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    for (c0 <- 0 until 3; c1 <- 0 until 2 if !(c0 == 2 && c1 == 1)) {
      val bb = java.nio.ByteBuffer.allocate(2 * 2 * 8)
      for (lr <- 0 until 2; lc <- 0 until 2) {
        val (r, c) = (c0 * 2 + lr, c1 * 2 + lc)
        val s = (if (r < 5 && c < 3) s"s${r}_$c" else "xx").getBytes(utf8)
        bb.put(java.util.Arrays.copyOf(s, 8)) // NUL-padded to the width
      }
      fxWrite(new File(tDir, s"$c0.$c1"), fxDeflate(bb.array()))
    }
    // names: >U5 big-endian UCS-4, raw
    val nDir = new File(store, "names"); nDir.mkdirs()
    fxWrite(new File(nDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [4], "chunks": [4],
         | "dtype": ">U5", "compressor": null,
         | "fill_value": "", "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    val nb = java.nio.ByteBuffer.allocate(4 * 5 * 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    for (i <- 0 until 4) {
      val cps = s"n${i}é".codePoints().toArray
      for (j <- 0 until 5) nb.putInt(if (j < cps.length) cps(j) else 0)
    }
    fxWrite(new File(nDir, "0"), nb.array())
  }

  /** Fixture store for the r11 codecs: `payloads` — |O vlen-bytes, zlib,
    * one absent chunk (binary blobs with a 0xFF/0x00-heavy closed form,
    * NOT valid UTF-8, so a text-path misread cannot round-trip) — and
    * `counts` — int64[24] in one Blosc/lz4 chunk with BOTH the byte-
    * shuffle and DELTA filters set (flags 0x09), raw value
    * (7i² + 3i) mod 1000 − 137. */
  def plantedBytesStore(store: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val pDir = new File(store, "payloads"); pDir.mkdirs()
    fxWrite(new File(pDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [7], "chunks": [3],
         | "dtype": "|O", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": 0, "filters": [{"id": "vlen-bytes"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(pDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["doc"]}""".getBytes(utf8))
    for (c <- 0 until 3 if c != 1) { // chunk 1 absent -> NULL payloads
      val items = (0 until 3).map(j => plantedPayload(c * 3 + j))
      fxWrite(new File(pDir, s"$c"), fxDeflate(vlenBytes(items)))
    }
    val cDir = new File(store, "counts"); cDir.mkdirs()
    fxWrite(new File(cDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [24], "chunks": [24],
         | "dtype": "<i8", "compressor": {"id": "blosc", "cname": "lz4",
         |   "clevel": 5, "shuffle": 1, "blocksize": 0},
         | "fill_value": null, "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    fxWrite(new File(cDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    val cb = java.nio.ByteBuffer.allocate(24 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 24).foreach(i => cb.putLong((7L * i * i + 3 * i) % 1000 - 137))
    fxWrite(new File(cDir, "0"),
      Blosc.encode(cb.array(), typesize = 8, delta = true))
  }

  /** Closed-form binary payload for element `g` of the planted
    * vlen-bytes array: length 2+(g mod 5), byte k = (37g + 11k) mod 256
    * — spans the full byte range, deliberately not valid UTF-8. */
  def plantedPayload(g: Int): Array[Byte] =
    Array.tabulate(2 + g % 5)(k => ((37 * g + 11 * k) % 256).toByte)

  /** Fixture store for the r12 datetime64 reader, closed-form: `t` —
    * `<M8[ns]`, shape [7] chunks [3], chunk 1 ABSENT → NULL at 3..5,
    * element 2 = NaT (Long.MinValue) → NULL, value
    * 2001-02-03T04:05:06.123456789Z + i days (ns precision pins the
    * floorDiv-to-micros truncation); `ts` — `>M8[s]`, zlib, epoch and
    * epoch−1s (big-endian + negative-value path). */
  def plantedDatetimeStore(store: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tDir = new File(store, "t"); tDir.mkdirs()
    fxWrite(new File(tDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [7], "chunks": [3],
         | "dtype": "<M8[ns]", "compressor": null, "fill_value": null,
         | "filters": null, "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(tDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    val baseSec = 981173106L // 2001-02-03T04:05:06Z
    for (c <- Seq(0, 2)) {
      val bb = java.nio.ByteBuffer.allocate(3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 3).foreach { j =>
        val g = c * 3 + j
        bb.putLong(
          if (g == 2) Long.MinValue
          else if (g >= 7) 0L
          else (baseSec + g * 86400L) * 1000000000L + 123456789L)
      }
      fxWrite(new File(tDir, s"$c"), bb.array())
    }
    val sDir = new File(store, "ts"); sDir.mkdirs()
    fxWrite(new File(sDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [2], "chunks": [2],
         | "dtype": ">M8[s]", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": null, "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    fxWrite(new File(sDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    val sb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.BIG_ENDIAN)
    sb.putLong(0L); sb.putLong(-1L)
    fxWrite(new File(sDir, "0"), fxDeflate(sb.array()))
  }

  /** Fixture store for the r12 numcodecs object codecs, closed-form:
    *
    *   `mlabels` — |O + msgpack2 + zlib, shape [7] chunks [3], chunk 1
    *   ABSENT → NULLs at 3..5; value `m<g>_π`, element 2 = python None
    *   (msgpack nil) → NULL.
    *
    *   `jlabels` — |O + json2 + gzip, shape [5] chunks [2]; value
    *   `j<g>_é`, element 1 = `a"b` (pins JSON escape decode); the edge
    *   chunk stores the full grid with a None pad slot, as zarr writes.
    *
    *   `mblobs` — |O + msgpack2, uncompressed, shape [5] chunks [5];
    *   element g = [[plantedPayload]]`(g+11)` msgpack bin8 payloads
    *   (not valid UTF-8, so a text-path misread cannot round-trip). */
  def plantedMsgpackStore(store: String): Unit = {
    import Msgpack._
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // mlabels: msgpack2 + zlib
    val mDir = new File(store, "mlabels"); mDir.mkdirs()
    fxWrite(new File(mDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [7], "chunks": [3],
         | "dtype": "|O", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": null, "filters": [{"id": "msgpack2"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(mDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["doc"]}""".getBytes(utf8))
    for (c <- 0 until 3 if c != 1) { // chunk 1 absent → NULLs at 3..5
      val vals = (0 until 3).map { j =>
        val g = c * 3 + j
        if (g == 2 || g >= 7) MNull else MStr(s"m${g}_π")
      }
      val items = MArr(vals.toVector ++ Vector(MStr("|O"), MArr(Vector(MLong(3)))))
      fxWrite(new File(mDir, s"$c"), fxDeflate(encode(items)))
    }
    // jlabels: json2 + gzip; numcodecs JSON writes a plain JSON array of
    // the values + dtype + shape
    val jDir = new File(store, "jlabels"); jDir.mkdirs()
    fxWrite(new File(jDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [5], "chunks": [2],
         | "dtype": "|O", "compressor": {"id": "gzip", "level": 1},
         | "fill_value": null, "filters": [{"id": "json2"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(jDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["doc"]}""".getBytes(utf8))
    for (c <- 0 until 3) {
      val vals = (0 until 2).map { j =>
        val g = c * 2 + j
        if (g >= 5) "null"
        else if (g == 1) "\"a\\\"b\"" // escaped quote in the stored text
        else "\"j" + g + "_\\u00e9\"" // é as a \u escape (ensure_ascii)
      }
      val json = vals.mkString("[", ", ", ", \"|O\", [2]]")
      fxWrite(new File(jDir, s"$c"), gzipBytes(json.getBytes(utf8)))
    }
    // mblobs: msgpack2, uncompressed, bin payloads
    val bDir = new File(store, "mblobs"); bDir.mkdirs()
    fxWrite(new File(bDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [5], "chunks": [5],
         | "dtype": "|O", "compressor": null,
         | "fill_value": null, "filters": [{"id": "msgpack2"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(bDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["doc"]}""".getBytes(utf8))
    val blobs = (0 until 5).map(g => MBin(plantedPayload(g + 11)): MValue)
    fxWrite(new File(bDir, "0"),
      encode(MArr(blobs.toVector ++ Vector(MStr("|O"), MArr(Vector(MLong(5)))))))
  }

  /** Fixture store for the r12 Zarr v3 string tier, covering each decode
    * path with closed-form values:
    *
    *   `labels` — data_type `string`, shape [7] chunks [3], codecs
    *   [vlen-utf8, gzip], default chunk-key encoding (`c/<i>` keys),
    *   chunk 1 ABSENT → NULLs; value `v3_<i>_λ` (non-ASCII pins UTF-8).
    *
    *   `tags` — SHARDED string array, shape [8] shard [4] inner [2],
    *   inner codecs [vlen-utf8, zstd], index [bytes, crc32c] at the
    *   shard end; shard 1's second inner chunk is MISSING ((-1,-1)
    *   index) → NULLs at 6,7; value `t<i>é`.
    *
    *   `blobs` — data_type `bytes`, codecs [vlen-bytes, zstd, crc32c],
    *   shape [5] single chunk; payload [[plantedPayload]](i+7) (not
    *   valid UTF-8, so a text-path misread cannot round-trip).
    */
  def plantedStringStoreV3(store: String): Unit = {
    def zstd(b: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(b, 3)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    new File(store).mkdirs()
    fxWrite(new File(store, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""".getBytes(utf8))

    // labels: plain v3 string, vlen-utf8 + gzip, chunk 1 absent
    val lDir = new File(store, "labels"); new File(lDir, "c").mkdirs()
    fxWrite(new File(lDir, "zarr.json"),
      ("""{"zarr_format": 3, "node_type": "array", "shape": [7],
         | "data_type": "string",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [3]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": "",
         | "codecs": [{"name": "vlen-utf8"},
         |   {"name": "gzip", "configuration": {"level": 1}}],
         | "dimension_names": ["doc"]}""").stripMargin.getBytes(utf8))
    for (c <- Seq(0, 2)) { // chunk 1 absent → NULLs at 3..5
      val items = (0 until 3).map(j => s"v3_${c * 3 + j}_λ".getBytes(utf8))
      fxWrite(new File(lDir, s"c/$c"), gzipBytes(vlenBytes(items)))
    }

    // tags: sharded string array, inner [vlen-utf8, zstd], index crc32c
    val tDir = new File(store, "tags"); new File(tDir, "c").mkdirs()
    fxWrite(new File(tDir, "zarr.json"),
      ("""{"zarr_format": 3, "node_type": "array", "shape": [8],
         | "data_type": "string",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [4]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": "",
         | "codecs": [{"name": "sharding_indexed", "configuration": {
         |   "chunk_shape": [2],
         |   "codecs": [{"name": "vlen-utf8"}, {"name": "zstd",
         |     "configuration": {"level": 3}}],
         |   "index_codecs": [{"name": "bytes",
         |     "configuration": {"endian": "little"}}, {"name": "crc32c"}],
         |   "index_location": "end"}}],
         | "dimension_names": ["doc"]}""").stripMargin.getBytes(utf8))
    def tagBody(lo: Int): Array[Byte] =
      zstd(vlenBytes((lo until lo + 2).map(i => s"t${i}é".getBytes(utf8))))
    fxWrite(new File(tDir, "c/0"), fxShard(Seq(Some(tagBody(0)), Some(tagBody(2)))))
    fxWrite(new File(tDir, "c/1"), fxShard(Seq(Some(tagBody(4)), None)))

    // blobs: v3 bytes data_type, vlen-bytes + zstd + crc32c
    val bDir = new File(store, "blobs"); new File(bDir, "c").mkdirs()
    fxWrite(new File(bDir, "zarr.json"),
      ("""{"zarr_format": 3, "node_type": "array", "shape": [5],
         | "data_type": "bytes",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [5]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": "",
         | "codecs": [{"name": "vlen-bytes"}, {"name": "zstd",
         |   "configuration": {"level": 3}}, {"name": "crc32c"}],
         | "dimension_names": ["doc"]}""").stripMargin.getBytes(utf8))
    fxWrite(new File(bDir, "c/0"),
      fxCrc32c(zstd(vlenBytes((0 until 5).map(i => plantedPayload(i + 7))))))
  }

  /** Fixture store for the r13 temporal tier, closed-form:
    *
    *   `tf` — v2 `<M8[s]`, shape [10] chunks [4], zlib + numcodecs
    *   Delta(dtype='<i8') — the canonical zarr-python recipe for
    *   monotonic time coordinates; value 2003-05-07T08:09:10Z + g
    *   hours, NaT at 7 (the delta encode wraps through the sentinel in
    *   int64, pinning the exact-Long cumsum), chunk 2 ABSENT → NULL at
    *   8..9.
    *
    *   `tsh` — v3 SHARDED datetime64, data_type in zarr-python 3's
    *   structured extension form (`numpy.datetime64`, unit `us`), shape
    *   [12] shard [8] inner [2], inner codecs [bytes le, gzip], crc32c'd
    *   index at the shard end; inner chunk (2,3) MISSING → NULL, NaT at
    *   9, the edge shard's past-the-end inner chunks absent; value
    *   1999-12-31T23:59:58Z + i s + i µs (the µs term pins exactness).
    *
    *   `td` — v2 `<m8[ms]`, shape [6] chunks [6], zlib: millisecond
    *   durations 0, ±1 ms, ±(1d 1h 1m 1.123s), NaT at 4.
    *
    *   `tdm` — v2 `<m8[m]` raw, shape [3] chunks [2]: 90 min / NaT /
    *   −90 min (pins the minutes unit, reachable only for timedeltas). */
  def plantedTemporalStore(store: String): Unit = {
    def longsLE(vs: Seq[Long]): Array[Byte] = longsLEBuf(vs.toArray)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8

    // tf: Delta-filtered zlib'd <M8[s]
    val fDir = new File(store, "tf"); fDir.mkdirs()
    fxWrite(new File(fDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [10], "chunks": [4],
         | "dtype": "<M8[s]", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": null,
         | "filters": [{"id": "delta", "dtype": "<i8"}],
         | "order": "C"}""").stripMargin.getBytes(utf8))
    fxWrite(new File(fDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    val fBase = 1052294950L // 2003-05-07T08:09:10Z
    def tfVal(g: Int): Long =
      if (g == 7) Long.MinValue else fBase + g * 3600L
    for (c <- Seq(0, 1)) { // chunk 2 absent → NULL at 8..9
      val vs = (0 until 4).map(j => tfVal(c * 4 + j))
      val diffs = vs.head +: vs.sliding(2).map(p => p(1) - p(0)).toSeq
      fxWrite(new File(fDir, s"$c"), fxDeflate(longsLE(diffs)))
    }

    // tsh: v3 sharded numpy.datetime64[us]
    val sDir = new File(store, "tsh"); new File(sDir, "c").mkdirs()
    fxWrite(new File(sDir, "zarr.json"),
      ("""{"zarr_format": 3, "node_type": "array", "shape": [12],
         | "data_type": {"name": "numpy.datetime64",
         |   "configuration": {"unit": "us", "scale_factor": 1}},
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [8]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": null,
         | "codecs": [{"name": "sharding_indexed", "configuration": {
         |   "chunk_shape": [2],
         |   "codecs": [{"name": "bytes",
         |     "configuration": {"endian": "little"}},
         |     {"name": "gzip", "configuration": {"level": 1}}],
         |   "index_codecs": [{"name": "bytes",
         |     "configuration": {"endian": "little"}}, {"name": "crc32c"}],
         |   "index_location": "end"}}],
         | "dimension_names": ["i"]}""").stripMargin.getBytes(utf8))
    val sBaseUs = 946684798L * 1000000L // 1999-12-31T23:59:58Z
    def tshVal(i: Int): Long =
      if (i == 9) Long.MinValue else sBaseUs + i * 1000000L + i
    def inner(lo: Int): Array[Byte] = gzipBytes(longsLE(Seq(tshVal(lo), tshVal(lo + 1))))
    fxWrite(new File(sDir, "c/0"), // inner (2,3) missing → NULL
      fxShard(Seq(Some(inner(0)), None, Some(inner(4)), Some(inner(6)))))
    fxWrite(new File(sDir, "c/1"), // inner chunks past the edge absent
      fxShard(Seq(Some(inner(8)), Some(inner(10)), None, None)))

    // td: zlib'd <m8[ms]
    val dDir = new File(store, "td"); dDir.mkdirs()
    fxWrite(new File(dDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [6], "chunks": [6],
         | "dtype": "<m8[ms]", "compressor": {"id": "zlib", "level": 1},
         | "fill_value": null, "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    fxWrite(new File(dDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    val dayMs = 90061123L // 1d 1h 1m 1.123s
    fxWrite(new File(dDir, "0"),
      fxDeflate(longsLE(Seq(0L, 1L, -1L, dayMs, Long.MinValue, -dayMs))))

    // tdm: raw <m8[m] with an edge chunk (pad slot clipped)
    val mDir = new File(store, "tdm"); mDir.mkdirs()
    fxWrite(new File(mDir, ".zarray"),
      ("""{"zarr_format": 2, "shape": [3], "chunks": [2],
         | "dtype": "<m8[m]", "compressor": null,
         | "fill_value": null, "filters": null, "order": "C"}""").stripMargin
        .getBytes(utf8))
    fxWrite(new File(mDir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["i"]}""".getBytes(utf8))
    fxWrite(new File(mDir, "0"), longsLE(Seq(90L, Long.MinValue)))
    fxWrite(new File(mDir, "1"), longsLE(Seq(-90L, 0L)))
  }

  /** Fixture store for the r13 CF time tier, closed-form:
    *
    *   `tstd` — <i8 raw, `days since 1850-01-01`, NO calendar attr
    *   (defaults standard): 0 / 36524 / −365 / 51000 days.
    *
    *   `thour` — <f8 zlib, `hours since 2001-02-03 04:00:00Z`,
    *   proleptic_gregorian: 0.5 / 27.25 h (fractional → the single
    *   deterministic micros rounding).
    *
    *   `tnl` — <i4 raw, `days since 2000-01-01`, noleap:
    *   0 / 364 / 365 / 730 / −1 (year carries both ways).
    *
    *   `t360` — <f8 raw, `days since 2000-02-05 12:00:00`, 360_day
    *   (mid-year noon epoch): 0 / 359.5 / 360 / −35. */
  def plantedCfTimeStore(store: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def arr(name: String, dtype: String, comp: String, n: Int,
            attrsJson: String, payload: Array[Byte]): Unit = {
      val dir = new File(store, name); dir.mkdirs()
      fxWrite(new File(dir, ".zarray"),
        (s"""{"zarr_format": 2, "shape": [$n], "chunks": [$n], """ +
          s""""dtype": "$dtype", "compressor": $comp, """ +
          """"fill_value": null, "filters": null, "order": "C"}""").getBytes(utf8))
      fxWrite(new File(dir, ".zattrs"), attrsJson.getBytes(utf8))
      fxWrite(new File(dir, "0"), payload)
    }
    def longsLE(vs: Seq[Long]): Array[Byte] = longsLEBuf(vs.toArray)
    def intsLE(vs: Seq[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vs.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putInt); bb.array()
    }
    def dblsLE(vs: Seq[Double]): Array[Byte] = doublesLE(vs.toArray)
    arr("tstd", "<i8", "null", 4,
      """{"_ARRAY_DIMENSIONS": ["i"], "units": "days since 1850-01-01"}""",
      longsLE(Seq(0L, 36524L, -365L, 51000L)))
    arr("thour", "<f8", """{"id": "zlib", "level": 1}""", 2,
      """{"_ARRAY_DIMENSIONS": ["i"],
        | "units": "hours since 2001-02-03 04:00:00Z",
        | "calendar": "proleptic_gregorian"}""".stripMargin,
      fxDeflate(dblsLE(Seq(0.5, 27.25))))
    arr("tnl", "<i4", "null", 5,
      """{"_ARRAY_DIMENSIONS": ["i"],
        | "units": "days since 2000-01-01", "calendar": "noleap"}""".stripMargin,
      intsLE(Seq(0, 364, 365, 730, -1)))
    arr("t360", "<f8", "null", 4,
      """{"_ARRAY_DIMENSIONS": ["i"],
        | "units": "days since 2000-02-05 12:00:00",
        | "calendar": "360_day"}""".stripMargin,
      dblsLE(Seq(0.0, 359.5, 360.0, -35.0)))
    // julian: 1900 IS leap (century rule), epoch carries a clock time,
    // -18.75 h walks back across midnight, 17544 h = exactly 731 days
    // crosses the 366-day 1900 into 1902
    arr("tjul", "<f8", "null", 5,
      """{"_ARRAY_DIMENSIONS": ["i"],
        | "units": "hours since 1900-02-28 18:00:00",
        | "calendar": "julian"}""".stripMargin,
      dblsLE(Seq(0.0, 6.0, 30.0, -18.75, 17544.0)))
  }

  /** Fixture store for the r13 CF pipeline query, closed-form: `time` —
    * <i8 raw, `days since 2000-01-01` (leap year first: 366 + 364 days
    * split the two calendar years asymmetrically), shape [730] chunks
    * [365]; `tas` — <f8 raw, same grid, value ((3t mod 40) − 10)·0.25
    * (exact quarters, so sums compare exactly). */
  def plantedCfPipeStore(store: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def meta(name: String, dtype: String): Unit = {
      val dir = new File(store, name); dir.mkdirs()
      fxWrite(new File(dir, ".zarray"),
        (s"""{"zarr_format": 2, "shape": [730], "chunks": [365], """ +
          s""""dtype": "$dtype", "compressor": null, "fill_value": null, """ +
          """"filters": null, "order": "C"}""").getBytes(utf8))
    }
    meta("time", "<i8")
    fxWrite(new File(store, "time/.zattrs"),
      """{"_ARRAY_DIMENSIONS": ["t"], "units": "days since 2000-01-01",
        | "calendar": "standard"}""".stripMargin.getBytes(utf8))
    meta("tas", "<f8")
    fxWrite(new File(store, "tas/.zattrs"),
      """{"_ARRAY_DIMENSIONS": ["t"]}""".getBytes(utf8))
    for (c <- 0 until 2) {
      val tb = java.nio.ByteBuffer.allocate(365 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val vb = java.nio.ByteBuffer.allocate(365 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 365).foreach { j =>
        val t = c * 365 + j
        tb.putLong(t.toLong)
        vb.putDouble(((3 * t) % 40 - 10) * 0.25)
      }
      fxWrite(new File(store, s"time/$c"), tb.array())
      fxWrite(new File(store, s"tas/$c"), vb.array())
    }
  }

  /** Convert every array in the store to a long-format parquet lake (the
    * Zarr twin of `NetCDF.toParquetLake` / `Hdf5.toParquetLake`).
    * `decodeTimes` (xarray's `decode_cf` behavior, CLI `--decode-times`)
    * additionally routes any array carrying CF time units
    * ("<step> since <epoch>") through [[readTimeCoordinate]], so time
    * axes land in the lake as TIMESTAMP (or year/doy companions for
    * fixed-length calendars) instead of raw offsets. */
  def toParquetLake(spark: SparkSession, store: String, outDir: String,
                    decodeTimes: Boolean = false): Seq[String] = {
    readMeta(store).map { za =>
      // dispatch on dtype kind: vlen-bytes object arrays → readBinary,
      // other string/object dtypes → readStrings (msgpack2 defaults to
      // the text reading — bin payloads fail loudly, pointing the user
      // at readBinary), numerics → readVariable
      val df =
        if (za.dtKind == 'O' && za.filters.map(_.id) == Seq("vlen-bytes"))
          readBinary(spark, store, za.name)
        else if ("SUO".indexOf(za.dtKind) >= 0) readStrings(spark, store, za.name)
        else if (za.dtKind == 'M') readDatetimes(spark, store, za.name)
        else if (za.dtKind == 'm') readTimedeltas(spark, store, za.name)
        else if (decodeTimes &&
            za.strAttrs.get("units").exists(_.contains(" since ")))
          readTimeCoordinate(spark, store, za.name)
        else readVariable(spark, store, za.name)
      df.write.mode("overwrite").parquet(s"$outDir/${za.name}")
      za.name
    }
  }

  // ---------------- writer (lake → Zarr v2 store) ----------------

  /** A store layout: the metadata documents for (shape, chunk shape, dim
    * columns), the chunk key for its grid coordinates, and the chunk
    * compressor. Built by [[v2Layout]] and [[v3Layout]]. */
  private final case class Layout(
      metaFiles: (Seq[Long], Seq[Long], Seq[String]) => Seq[(String, String)],
      chunkKey: Seq[String] => String,
      compress: Array[Byte] => Array[Byte])

  /** The v2 writers' layout: `.zarray` with `dtype`, zlib level 6, C
    * order and the given `fill_value`/`filters` JSON; `.zattrs` with
    * `_ARRAY_DIMENSIONS` plus `extraAttrs` (JSON members, each led by
    * ", "); `.`-joined chunk keys. */
  private def v2Layout(dtype: String, fillValue: String, filters: String = "null",
                       extraAttrs: String = ""): Layout =
    Layout((dims, chunkDims, dimCols) => Seq(
        ".zarray" ->
          (s"""{"zarr_format": 2, "shape": [${dims.mkString(", ")}], """ +
            s""""chunks": [${chunkDims.mkString(", ")}], "dtype": "$dtype", """ +
            s""""compressor": {"id": "zlib", "level": 6}, "fill_value": $fillValue, """ +
            s""""filters": $filters, "order": "C"}"""),
        ".zattrs" ->
          s"""{"_ARRAY_DIMENSIONS": [${dimCols.map(jsonStr).mkString(", ")}]$extraAttrs}"""),
      _.mkString("."), deflateZlib)

  /** How a writer buffers one chunk: the per-leading-index-slice element
    * budget, a buffer of absent cells, one cell set from a row's `_v`,
    * and the chunk's plain encoding. */
  private final case class Cells[T](maxInnerElems: Long, fillBuf: Int => Array[T],
                                    setCell: (Array[T], Int, org.apache.spark.sql.Row) => Unit,
                                    encodePlain: (Array[T], Long) => Array[Byte])

  private val doubleCells = Cells[Double](1L << 28, // 2 GiB of doubles per slice
    Array.fill(_)(Double.NaN), (buf, off, r) => buf(off) = r.getDouble(2),
    (buf, _) => doublesLE(buf))
  private val stringCells = Cells[String](1L << 24, Array.fill(_)(""),
    (buf, off, r) => buf(off) = r.getString(2), vlenEncodePlain)
  private def longCells(absent: Long) = Cells[Long](1L << 28, Array.fill(_)(absent),
    (buf, off, r) => buf(off) = r.getLong(2), (buf, _) => longsLEBuf(buf))

  /** Shared chunk-export scaffold for every writer: derive dims from the
    * dim columns' maxima, split only the LEADING dimension so chunks land
    * near `targetChunkElems`, shuffle once on the leading-dim chunk id
    * (`repartitionByRange` + in-partition sort) so each task owns whole
    * chunk files, fill a per-chunk buffer, and write its compressed
    * encoding. The driver writes only the JSON metadata files. */
  private def writeChunked[T](df: org.apache.spark.sql.DataFrame, store: String,
      name: String, targetChunkElems: Long, layout: Layout,
      castValue: org.apache.spark.sql.Column, cells: Cells[T]): Unit = {
    val Cells(maxInnerElems, fillBuf, setCell, encodePlain) = cells
    val (chunkKey, compress) = (layout.chunkKey, layout.compress)
    val dimCols = df.columns.filter(_ != "value").toSeq
    require(dimCols.nonEmpty, "need at least one dimension column")
    val dims: Seq[Long] = {
      val r = df.agg(max(col(dimCols.head)), dimCols.tail.map(c => max(col(c))): _*).head()
      (0 until dimCols.length).map(i => r.getAs[Number](i).longValue() + 1)
    }
    val innerElems = dims.tail.product
    // The splitting scheme only divides the LEADING dim, so one chunk is
    // at least innerElems elements — which must fit the cells' buffer
    // budget (2 GiB of doubles; the vlen payload limit is re-checked per
    // chunk for strings).
    require(innerElems > 0 && innerElems <= maxInnerElems,
      s"trailing dims ${dims.tail.mkString("x")} = $innerElems elems per " +
        "leading-index slice exceed the single-chunk buffer limit; " +
        "the writer only splits the leading dimension")
    val lead = math.max(1L, math.min(dims.head,
      targetChunkElems / math.max(1L, innerElems)))
    val chunkDims = lead +: dims.tail
    val chunkElems = chunkDims.product.toInt
    // all store writes go through the Hadoop FileSystem (FsIo) so
    // file://, hdfs:// and s3a:// stores work identically; the conf
    // snapshot ships into the chunk-writing task closures below
    val confSnap = FsIo.snapshot(df.sparkSession)
    FsIo.mkdirs(confSnap.value, s"$store/$name")
    layout.metaFiles(dims, chunkDims, dimCols).foreach { case (fname, content) =>
      FsIo.writeBytes(confSnap.value, s"$store/$name/$fname",
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // (chunk id, in-chunk flat offset, value) — one shuffle keyed on the
    // leading-dim chunk so each task owns whole chunk files
    val rank = dims.length
    val inChunk = dimCols.zipWithIndex.drop(1)
      .foldLeft(pmod(col(dimCols.head).cast("long"), lit(lead))) { case (acc, (c, i)) =>
        acc * dims(i) + col(c).cast("long")
      }
    val keyed = df.select(
      floor(col(dimCols.head).cast("long") / lit(lead)).cast("long").as("_chunk"),
      inChunk.as("_off"), castValue.as("_v"))
    val dirPath = s"$store/$name"
    keyed.repartitionByRange(col("_chunk")).sortWithinPartitions(col("_chunk"), col("_off"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        var cur = -1L
        var buf: Array[T] = null.asInstanceOf[Array[T]]
        def flush(): Unit = if (cur >= 0) {
          val stored = compress(encodePlain(buf, cur))
          val coords = cur.toString +: Seq.fill(rank - 1)("0")
          // Hadoop create() makes parents (the v3 c/<i>/... keys) itself
          FsIo.writeBytes(confSnap.value, s"$dirPath/${chunkKey(coords)}", stored)
        }
        it.foreach { r =>
          val c = r.getLong(0)
          if (c != cur) {
            flush(); cur = c
            buf = fillBuf(chunkElems)
          }
          if (!r.isNullAt(2)) setCell(buf, r.getLong(1).toInt, r)
        }
        flush()
      }
  }

  /** Write one long-format frame (dim columns + `value` DOUBLE) as a Zarr
    * v2 array: `<f8` dtype, zlib compression, C order, `fill_value` NaN
    * for absent positions, `_ARRAY_DIMENSIONS` carrying the dim names.
    *
    * Chunking: the TRAILING dims are kept whole and the LEADING dim is
    * split so chunks land near `targetChunkElems` — the natural layout for
    * (time, y, x) climate arrays, giving time-contiguous chunks that the
    * reader (and xarray) can fetch in parallel. Executors each write the
    * chunk files for their partition after a `repartitionByRange` on the
    * leading-dim chunk id, so no chunk is touched by two tasks and the
    * driver writes only the two JSON metadata files ([[writeChunked]]). */
  def writeArray(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                 targetChunkElems: Long = 1 << 20): Unit =
    writeChunked(df, store, name, targetChunkElems, v2Layout("<f8", "\"NaN\""),
      col("value").cast("double"), doubleCells)

  /** Write one long-format frame (dim columns + `value` STRING) as a
    * Zarr v2 `|O` + vlen-utf8 + zlib array — the export shape
    * [[readStrings]] (and zarr-python) reads back, closing the corpus
    * round trip: document/label columns leave the lake as the same
    * store layout they arrive in. Chunking, the leading-dim shuffle and
    * the one-task-per-chunk-file write are [[writeChunked]]'s; NULL and
    * absent IN-CHUNK values encode as `""` (numcodecs `VLenUTF8` writes
    * python None the same way — vlen-utf8 has no null), while a chunk
    * with NO rows at all is simply not written and reads back as NULL
    * per element (the absent-chunk contract). */
  def writeStrings(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                   targetChunkElems: Long = 1 << 18): Unit =
    writeChunked(df, store, name, targetChunkElems,
      v2Layout("|O", "null", filters = """[{"id": "vlen-utf8"}]"""),
      col("value").cast("string"), stringCells)

  /** Write one long-format frame (dim columns + `value` TIMESTAMP) as a
    * Zarr v2 `<M8[us]` array — the export twin of [[readDatetimes]],
    * closing the temporal round trip: timestamps leave the lake as exact
    * int64 microsecond epochs (no float channel anywhere), NULL and
    * absent in-chunk cells encode as the numpy NaT sentinel, and a chunk
    * with no rows is simply not written (absent-chunk contract → NULL on
    * read). Chunking/shuffle/one-task-per-chunk-file are
    * [[writeChunked]]'s. */
  def writeDatetimes(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                     targetChunkElems: Long = 1 << 20): Unit =
    writeChunked(df, store, name, targetChunkElems, v2Layout("<M8[us]", "null"),
      // timestamp → exact micros; unix_micros is TZ-free (epoch-anchored)
      unix_micros(col("value").cast("timestamp")), longCells(Long.MinValue)) // NaT

  /** Write a CF-ENCODED time axis — the form `xr.decode_cf` consumes
    * (and [[readTimeCoordinate]] re-decodes): an `<i8` array whose
    * `.zattrs` carry the `units` ("<step> since <epoch>") and
    * `calendar` attributes. `value` TIMESTAMP encodes through
    * [[CfTime.encodeStandard]] (standard calendars only — whole-steps
    * discipline enforced columnar); `value` LONG writes as-is for
    * offsets the caller pre-encoded (the
    * [[CfTime.encodeNonStandard]] companion-column path for
    * noleap/all_leap/360_day/julian). Time axes are coordinates and
    * therefore DENSE — absent positions are a caller error and write
    * the int fill silently, unlike the NaT-carrying data writers. */
  def writeCfTime(df: org.apache.spark.sql.DataFrame, store: String,
                  name: String, units: String,
                  calendar: String = "standard",
                  targetChunkElems: Long = 1 << 20): Unit = {
    val vt = df.schema.fields.find(_.name == "value").map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(s"$name: no value column"))
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // both branches validate units AND calendar up front — a typo'd
    // calendar interpolated into .zattrs would otherwise write a store
    // that only fails later, at decode time
    CfTime.parseUnits(units)
    CfTime.validateCalendar(calendar)
    val encoded = vt match {
      case TimestampType | TimestampNTZType =>
        require(CfTime.isStandardCalendar(calendar),
          s"TIMESTAMP values encode under standard calendars only — " +
            s"pre-encode '$calendar' companions via CfTime.encodeNonStandard")
        CfTime.encodeStandard(col("value"), units)
      case LongType =>
        col("value") // pre-encoded offsets, any validated calendar
      case other => throw new IllegalArgumentException(
        s"$name: value must be TIMESTAMP (encode here) or LONG " +
          s"(pre-encoded offsets), got $other")
    }
    writeChunked(df, store, name, targetChunkElems,
      v2Layout("<i8", "null",
        extraAttrs = s""", "units": ${jsonStr(units)}, "calendar": ${jsonStr(calendar)}"""),
      encoded, longCells(0L))
  }

  /** Write one long-format frame (dim columns + `value` INTERVAL DAY TO
    * SECOND) as a Zarr v2 `<m8[us]` array — the export twin of
    * [[readTimedeltas]]. The interval's exact micros are extracted by
    * anchoring to the epoch (`timestamp_micros(0) + value`), which stays
    * in Long arithmetic and is session-timezone-proof; NULL/absent cells
    * → NaT, empty chunks unwritten. */
  def writeTimedeltas(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                      targetChunkElems: Long = 1 << 20): Unit =
    writeChunked(df, store, name, targetChunkElems, v2Layout("<m8[us]", "null"),
      unix_micros(timestamp_micros(lit(0L)) + col("value")), longCells(Long.MinValue)) // NaT

  // ---------------- fixture plumbing (planted stores) ----------------

  /** Shared by every planted fixture: write one small file. */
  private def fxWrite(f: File, b: Array[Byte]): Unit = {
    val out = new java.io.FileOutputStream(f)
    try out.write(b) finally out.close()
  }

  /** Shared by every planted fixture: one zlib stream (level 1 — the
    * fixtures pin DECODE behavior, compression ratio is irrelevant). */
  private def fxDeflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1)
    d.setInput(b); d.finish()
    val out = new Array[Byte](b.length + 64)
    val n = d.deflate(out); d.end()
    out.take(n)
  }

  /** The published VLen layout `[n u32 LE][len u32 LE + bytes]*` of
    * `items` (under 2 GiB) — the string writers' and the planted
    * fixtures' object payload. */
  private def vlenBytes(items: scala.collection.Seq[Array[Byte]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + items.map(4 + _.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(items.length)
    items.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  /** `b` followed by its little-endian crc32c (the v3 `crc32c` codec). */
  private def fxCrc32c(b: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32C()
    c.update(b, 0, b.length)
    java.nio.ByteBuffer.allocate(b.length + 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(b).putInt(c.getValue.toInt).array()
  }

  /** A `sharding_indexed` shard: the present inner-chunk bodies back to
    * back, then the (offset, nbytes) u64 LE index — (-1, -1) for a
    * missing inner chunk — crc32c'd at the shard end. */
  private def fxShard(bodies: Seq[Option[Array[Byte]]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val idx = java.nio.ByteBuffer.allocate(bodies.length * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bodies.foreach {
      case Some(b) => idx.putLong(out.size.toLong).putLong(b.length.toLong); out.write(b)
      case None    => idx.putLong(-1L).putLong(-1L)
    }
    out.write(fxCrc32c(idx.array()))
    out.toByteArray
  }

  /** Chunk buffer of int64s → little-endian bytes (the `<M8`/`<m8`
    * payload) — shared by the temporal writers and the fixtures. */
  private def longsLEBuf(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.foreach(bb.putLong)
    bb.array()
  }

  /** Chunk buffer of doubles → little-endian bytes (the `<f8`/v3
    * `bytes le` payload) — shared by the array writers and the fixtures. */
  private def doublesLE(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  /** Chunk buffer of strings → the published VLen layout
    * `[n u32 LE][len u32 LE + utf8]*` — shared by the v2 and v3 string
    * writers; payloads past 2 GiB are a loud error. */
  private def vlenEncodePlain(buf: Array[String], chunkId: Long): Array[Byte] = {
    val items = buf.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val total = 4L + items.map(4L + _.length).sum
    require(total <= Int.MaxValue,
      s"chunk $chunkId vlen payload $total bytes exceeds the 2 GiB " +
        "buffer limit; lower targetChunkElems")
    vlenBytes(items)
  }

  private def deflateZlib(plain: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(plain); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  private def gzipBytes(plain: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    bos.toByteArray
  }

  // ---------------- writer (lake → Zarr V3 store) ----------------

  /** The v3 writers' layout: one `zarr.json` with `data_type`, a regular
    * chunk grid, the `default` chunk-key encoding (`c/<i>/0…` keys), the
    * given `fill_value` JSON, codecs `[arrayCodec, gzip 6]` and inline
    * `dimension_names`. */
  private def v3Layout(dataType: String, fillValue: String, arrayCodec: String): Layout =
    Layout((dims, chunkDims, dimCols) => Seq(
        "zarr.json" ->
          (s"""{"zarr_format": 3, "node_type": "array", """ +
            s""""shape": [${dims.mkString(", ")}], "data_type": "$dataType", """ +
            s""""chunk_grid": {"name": "regular", "configuration": """ +
            s"""{"chunk_shape": [${chunkDims.mkString(", ")}]}}, """ +
            """"chunk_key_encoding": {"name": "default", "configuration": """ +
            s"""{"separator": "/"}}, "fill_value": $fillValue, """ +
            s""""codecs": [$arrayCodec, """ +
            """{"name": "gzip", "configuration": {"level": 6}}], """ +
            s""""dimension_names": [${dimCols.map(jsonStr).mkString(", ")}]}""")),
      coords => "c/" + coords.mkString("/"), gzipBytes)

  /** [[writeArray]]'s Zarr v3 twin — the format zarr-python 3 writes by
    * default: `zarr.json` array metadata (regular chunk grid, `default`
    * chunk-key encoding → `c/<i>/0…` keys, `dimension_names` inline),
    * codec chain `[bytes le, gzip]`. Same chunking and executor-parallel
    * chunk writes as the v2 form ([[writeChunked]]). */
  def writeArrayV3(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                   targetChunkElems: Long = 1 << 20): Unit =
    writeChunked(df, store, name, targetChunkElems,
      v3Layout("float64", "\"NaN\"",
        """{"name": "bytes", "configuration": {"endian": "little"}}"""),
      col("value").cast("double"), doubleCells)

  /** [[writeStrings]]'s Zarr v3 twin: `data_type: string` with the
    * `[vlen-utf8, gzip]` codec chain — the layout zarr-python 3 writes
    * for text columns. Null/absent in-chunk values encode as `""`; a
    * chunk with no rows reads back NULL (absent-chunk contract). */
  def writeStringsV3(df: org.apache.spark.sql.DataFrame, store: String, name: String,
                     targetChunkElems: Long = 1 << 18): Unit =
    writeChunked(df, store, name, targetChunkElems,
      v3Layout("string", "\"\"", """{"name": "vlen-utf8"}"""),
      col("value").cast("string"), stringCells)

  /** Lake → Zarr store (the write twin of [[toParquetLake]], and the
    * Zarr counterpart of `NetCDF.fromParquetLake`): one array per
    * variable directory — STRING `value` columns export through
    * [[writeStrings]]/[[writeStringsV3]], everything numeric through
    * [[writeArray]]/[[writeArrayV3]]. `zarrFormat` 2 (default) also
    * writes the `.zgroup` marker and consolidated `.zmetadata`
    * (one-object-store-GET discovery — what `xr.open_zarr(...,
    * consolidated=True)` expects); 3 writes the root group
    * `zarr.json`. */
  def fromParquetLake(spark: SparkSession, lakeDir: String, store: String,
                      targetChunkElems: Long = 1 << 20,
                      zarrFormat: Int = 2): Seq[String] = {
    require(zarrFormat == 2 || zarrFormat == 3, s"zarrFormat $zarrFormat")
    val hconf = spark.sparkContext.hadoopConfiguration
    val varDirs = FsIo.listDirNames(hconf, lakeDir)
    require(varDirs.nonEmpty, s"no variable directories under $lakeDir")
    varDirs.foreach { v =>
      val df = spark.read.parquet(s"$lakeDir/$v")
      import org.apache.spark.sql.types.{DayTimeIntervalType, StringType, TimestampType}
      val vt = df.schema.fields.find(_.name == "value").map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(s"$v: no value column"))
      // temporal columns must NOT fall into the double writer — a
      // timestamp cast to double rounds micros past 2^53 silently
      (vt, zarrFormat) match {
        case (StringType, 2)              => writeStrings(df, store, v, targetChunkElems)
        case (TimestampType, 2)           => writeDatetimes(df, store, v, targetChunkElems)
        case (_: DayTimeIntervalType, 2)  => writeTimedeltas(df, store, v, targetChunkElems)
        case (_, 2)                       => writeArray(df, store, v, targetChunkElems)
        case (StringType, _)              => writeStringsV3(df, store, v, targetChunkElems)
        case (TimestampType, _) | (_: DayTimeIntervalType, _) =>
          throw new IllegalArgumentException(
            s"$v: temporal export is v2-only (the v3 numpy dtype extension " +
              "has no public writer vector pinned yet) — pass zarrFormat = 2")
        case _                            => writeArrayV3(df, store, v, targetChunkElems)
      }
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (zarrFormat == 2) {
      FsIo.writeBytes(hconf, s"$store/.zgroup",
        """{"zarr_format": 2}""".getBytes(utf8))
      consolidate(store, hconf)
    } else
      FsIo.writeBytes(hconf, s"$store/zarr.json",
        """{"zarr_format": 3, "node_type": "group"}""".getBytes(utf8))
    varDirs
  }

  /** Write v2 consolidated metadata (`.zmetadata`, format 1): every
    * array's `.zarray`/`.zattrs` (and the root `.zgroup` if present)
    * embedded verbatim under its store-relative key — the single-GET
    * discovery document object-store deployments rely on, and the same
    * shape [[readMeta]] consumes. */
  def consolidate(store: String,
                  conf: org.apache.hadoop.conf.Configuration =
                    new org.apache.hadoop.conf.Configuration()): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def readKey(key: String): String =
      new String(FsIo.readBytes(conf, s"$store/$key"), utf8)
    val arrays = FsIo.listDirNames(conf, store)
      .filter(d => FsIo.exists(conf, s"$store/$d/.zarray"))
    require(arrays.nonEmpty, s"no v2 arrays under $store to consolidate")
    val entries = Seq.newBuilder[(String, String)]
    if (FsIo.exists(conf, s"$store/.zgroup"))
      entries += ".zgroup" -> readKey(".zgroup")
    arrays.foreach { d =>
      entries += s"$d/.zarray" -> readKey(s"$d/.zarray")
      if (FsIo.exists(conf, s"$store/$d/.zattrs"))
        entries += s"$d/.zattrs" -> readKey(s"$d/.zattrs")
    }
    // values are verbatim JSON documents — embed them raw
    val json = entries.result()
      .map { case (k, v) => "\"" + k + "\": " + v.trim }
      .mkString("{\"zarr_consolidated_format\": 1, \"metadata\": {", ", ", "}}")
    FsIo.writeBytes(conf, s"$store/.zmetadata", json.getBytes(utf8))
  }
}

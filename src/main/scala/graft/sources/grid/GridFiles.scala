package graft.sources.grid

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import java.io.File
import scala.util.control.NonFatal

/** On-disk tile codec for the `format=files` grid reader — the
  * stand-in for the reference's downloaded NetCDF tiles
  * (/root/reference/dask_jobs/extract_era5.py:49-76 pulls one
  * lat×lon×time file per region-month;
  * dask_jobs/aggregate_hourly.py:32-46 unzips and decodes it before
  * aggregating). The container has no NetCDF codec, so the tile is a
  * minimal self-describing binary layout with the properties that
  * matter for the connector seam:
  *
  *  - one file per (region, day) at `dir/region=<r>/day=<d>.grd` —
  *    the same granularity the connector plans InputPartitions at, so
  *    partition pruning == skipping whole files (never opened);
  *  - VARIABLE-MAJOR blocks: header (magic, dims, var directory) then
  *    one contiguous `hours×lat×lon` float64 block per variable, so
  *    column pruning seeks PAST unrequested variables — a
  *    `select(region, t2m)` does one header read plus one block read,
  *    not seven (the I/O analog of the synthetic reader never
  *    computing pruned vars);
  *  - coordinates (ts/lat/lon) are implicit in the layout, as in a
  *    NetCDF grid's dimension axes — only measurements are payload.
  *
  * Layout (all big-endian, DataOutputStream encoding):
  *   magic:Int = 0x47524431 ("GRD1")
  *   nHours:Int nLat:Int nLon:Int nVars:Int
  *   nVars × varName:UTF
  *   nVars × (nHours*nLat*nLon doubles, hour-major, then lat, then lon)
  *
  * [[write]] materializes tiles from the deterministic formula — it
  * plays the role of the EXTERNAL download step (the reference's CDS
  * API client), which is why it is a plain local writer and not a
  * Spark job: the engine's job starts at reading what the downloader
  * left on disk. Formula-generated content keeps every file-backed
  * read oracle-gatable against the synthetic reader bit-for-bit.
  */
object GridFiles {
  val Magic = 0x47524431
  val Hours = 24
  private val ZipMagic = 0x504b0304 // "PK\3\4" local-file header

  /** A tile that cannot be decoded — torn by a crashed writer,
    * truncated mid-stream, or not a tile at all. A DEFINED error (not
    * a bare EOFException from some depth of the codec) so callers can
    * distinguish "corrupt input, re-extract it" from a code bug.
    */
  final class CorruptTileException(msg: String)
    extends RuntimeException(msg)

  def tileFile(dir: String, region: String, dayIdx: Int): File =
    new File(new File(dir, s"region=$region"), s"day=$dayIdx.grd")

  /** Write one (region, day) tile with every variable's formula
    * values. `nullCells=true` writes NaN — the tile fill value — for
    * every cell GridSource.cellMasked masks, so the file carries
    * missing data the way real tiles do (in the payload, not as an
    * option).
    *
    * ATOMIC: bytes go to a `.part` sibling which is renamed into
    * place only after a successful close — the reference downloader's
    * protocol (/root/reference/flows/download_era5_land.py:60-100
    * writes `month=MM.nc.part`, then renames), and the property that
    * makes `skipExisting` backfills crash-safe: a writer dying
    * mid-tile leaves only a `.part` orphan, never a torn file at the
    * final name that a rerun would skip as done.
    */
  def writeTile(dir: String, region: String, rIdx: Int, dayIdx: Int,
      nLat: Int, nLon: Int, nullCells: Boolean = false,
      zipWrapped: Boolean = false): Unit = {
    val f = tileFile(dir, region, dayIdx)
    f.getParentFile.mkdirs()
    val part = new File(f.getPath + ".part")
    if (zipWrapped) {
      // ZIP-wrapped container: the payload lives as the single
      // `day=N.grd` entry inside a ZIP at the tile's usual name — the
      // shape the reference's downloader sometimes leaves behind (a
      // "NetCDF" month file that is really a ZIP;
      // /root/reference/dask_jobs/aggregate_hourly.py:32-45 unwraps
      // the first member transparently, and so does [[openPayload]])
      val zos = new java.util.zip.ZipOutputStream(
        new BufferedOutputStream(new FileOutputStream(part)))
      try {
        zos.putNextEntry(new java.util.zip.ZipEntry(s"day=$dayIdx.grd"))
        val out = new DataOutputStream(zos)
        writePayload(out, rIdx, dayIdx, nLat, nLon, nullCells)
        out.flush()
        zos.closeEntry()
      } finally zos.close()
    } else {
      val out = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(part)))
      try writePayload(out, rIdx, dayIdx, nLat, nLon, nullCells)
      finally out.close()
    }
    java.nio.file.Files.move(part.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writePayload(out: DataOutputStream, rIdx: Int, dayIdx: Int,
      nLat: Int, nLon: Int, nullCells: Boolean): Unit = {
    out.writeInt(Magic)
    out.writeInt(Hours); out.writeInt(nLat); out.writeInt(nLon)
    out.writeInt(GridSource.varSpecs.size)
    GridSource.varSpecs.foreach { case (v, _) => out.writeUTF(v) }
    GridSource.varSpecs.foreach { case (v, _) =>
      var h = 0
      while (h < Hours) {
        var la = 0
        while (la < nLat) {
          var lo = 0
          while (lo < nLon) {
            out.writeDouble(
              if (nullCells && GridSource.cellMasked(v, rIdx, dayIdx, h, la, lo))
                Double.NaN
              else GridSource.varValue(v, rIdx, dayIdx, h, la, lo))
            lo += 1
          }
          la += 1
        }
        h += 1
      }
    }
  }

  /** Materialize the full extent (the "download everything" backfill).
    * `skipExisting=true` is the reference's month-skip idempotency
    * (/root/reference/flows/download_era5_land.py:81 — a rerun after a
    * partial failure re-pulls only the missing tiles): a tile already
    * on disk AND structurally valid is left untouched. Validity, not
    * bare existence, is the skip test: the atomic rename in
    * [[writeTile]] means torn files can't normally appear at the final
    * name, but a tile corrupted any other way (disk fault, a
    * pre-atomic writer, manual truncation) must be RE-WRITTEN by the
    * rerun, not skipped as done. Returns the number of tiles written.
    */
  def write(dir: String, regions: Seq[String], nDays: Int, nLat: Int,
      nLon: Int, nullCells: Boolean = false,
      skipExisting: Boolean = false,
      zipWrap: (String, Int) => Boolean = (_, _) => false): Int = {
    var written = 0
    for ((r, rIdx) <- regions.zipWithIndex; d <- 0 until nDays)
      if (!(skipExisting && isValidTile(tileFile(dir, r, d)))) {
        writeTile(dir, r, rIdx, d, nLat, nLon, nullCells,
          zipWrapped = zipWrap(r, d))
        written += 1
      }
    written
  }

  /** Structural validity: header decodes and the file length is
    * exactly header + nVars full blocks. Cheap (header bytes only —
    * never reads payload), so a backfill can afford it per tile.
    */
  def isValidTile(f: File): Boolean =
    try { readHeader(f); true }
    catch { case _: CorruptTileException => false }

  /** Parsed tile header: variable directory + payload geometry. */
  final case class TileHeader(nHours: Int, nLat: Int, nLon: Int,
      varNames: Seq[String], headerBytes: Long) {
    def blockDoubles: Int = nHours * nLat * nLon
    /** Byte offset of a variable's block from file start. */
    def blockOffset(name: String): Long = {
      val i = varNames.indexOf(name)
      require(i >= 0, s"variable $name not in tile (has ${varNames.mkString(",")})")
      headerBytes + i.toLong * blockDoubles * 8L
    }
  }

  def readHeader(in: DataInputStream): TileHeader = {
    val magic = in.readInt()
    require(magic == Magic, f"bad tile magic 0x$magic%08x")
    val nHours = in.readInt(); val nLat = in.readInt(); val nLon = in.readInt()
    val nVars = in.readInt()
    var bytes = 20L
    val names = (0 until nVars).map { _ =>
      val s = in.readUTF()
      // writeUTF = 2 length bytes + modified-UTF-8 payload (ASCII here)
      bytes += 2L + s.length
      s
    }
    TileHeader(nHours, nLat, nLon, names, bytes)
  }

  /** Header decode with full structural validation — the entry point
    * the file reader and `skipExisting` use. Beyond parsing, checks
    * the file length is EXACTLY header + nVars complete blocks: a
    * torn tile (truncated payload) or trailing garbage throws
    * [[CorruptTileException]] here, at open time, instead of a
    * mid-scan EOF five joins downstream.
    */
  /** Is the file a ZIP container rather than a bare GRD payload? */
  private def isZipContainer(f: File): Boolean = {
    if (!f.isFile || f.length < 4) return false
    val in = new DataInputStream(new FileInputStream(f))
    try in.readInt() == ZipMagic finally in.close()
  }

  /** Open the tile's GRD payload as (stream, logical payload length),
    * transparently unwrapping a ZIP container: a tile whose bytes
    * start with the ZIP magic is opened as an archive and its first
    * `.grd` member (first member at all, failing that) becomes the
    * payload — the reference's `_extract_first_nc` behavior
    * (/root/reference/dask_jobs/aggregate_hourly.py:32-45: a month
    * "NetCDF" that is actually a ZIP yields its first `*.nc` member).
    * The length is the member's UNCOMPRESSED size from the central
    * directory, so the torn-tile check validates the logical payload,
    * not the container. A broken archive throws the same defined
    * [[CorruptTileException]] a torn bare tile does.
    */
  private def openPayload(f: File): (DataInputStream, Long) =
    if (isZipContainer(f)) {
      val zf =
        try new java.util.zip.ZipFile(f)
        catch {
          case e: java.io.IOException => throw new CorruptTileException(
            s"tile $f looks ZIP-wrapped but the archive is unreadable: " +
              e.getMessage)
        }
      try {
        import scala.jdk.CollectionConverters._
        val members = zf.entries.asScala.filterNot(_.isDirectory).toSeq
        val entry = members.find(_.getName.endsWith(".grd"))
          .orElse(members.headOption)
          .getOrElse(throw new CorruptTileException(
            s"ZIP-wrapped tile $f has no members"))
        if (entry.getSize < 0)
          throw new CorruptTileException(
            s"ZIP-wrapped tile $f member ${entry.getName} has no recorded size")
        val in = new DataInputStream(
          new BufferedInputStream(zf.getInputStream(entry))) {
          override def close(): Unit = { super.close(); zf.close() }
        }
        (in, entry.getSize)
      } catch {
        case e: Throwable =>
          try zf.close() catch { case NonFatal(s) => e.addSuppressed(s) }
          throw e
      }
    } else
      (new DataInputStream(new BufferedInputStream(new FileInputStream(f))),
        f.length)

  def readHeader(f: File): TileHeader = {
    if (!f.isFile)
      throw new CorruptTileException(s"tile $f does not exist")
    val (in, payloadLen) = openPayload(f)
    val header =
      try readHeader(in)
      catch {
        case e @ (_: IllegalArgumentException | _: java.io.IOException) =>
          throw new CorruptTileException(
            s"tile $f has a corrupt header: ${e.getMessage}")
      } finally in.close()
    val expected = header.headerBytes +
      header.varNames.size.toLong * header.blockDoubles * 8L
    if (payloadLen != expected)
      throw new CorruptTileException(
        s"tile $f is torn: $payloadLen payload bytes, " +
          s"layout requires $expected — rerun the backfill " +
          "(a crashed pre-atomic writer or disk fault left it)")
    header
  }

  /** Read one variable's full block from a tile, decoding nothing
    * else. On a bare tile the skip is a file seek; inside a ZIP
    * container it decompresses-and-discards up to the block (the
    * container trades that for transport compression, exactly as the
    * reference's zipped downloads do).
    */
  def readVarBlock(file: File, header: TileHeader, name: String): Array[Double] = {
    val (in, _) = openPayload(file)
    try {
      var toSkip = header.blockOffset(name)
      while (toSkip > 0) {
        val s = in.skip(toSkip)
        if (s <= 0) throw new EOFException(s"truncated tile $file")
        toSkip -= s
      }
      val n = header.blockDoubles
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = in.readDouble(); i += 1 }
      out
    } finally in.close()
  }
}

package graft.ext

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video stay opaque `binary`
  * columns, and `blobMeta` derives typed metadata from them (byte
  * length, sniffed format, header dimensions) with codegen'd
  * expressions only.
  *
  * Scale design: blobs stay in `binary` columns; Parquet stores them
  * page-compressed, and column pruning means queries that never touch
  * the metadata never read the bytes.
  */
object Multimodal {

  val metaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Expression-level metadata over a binary column — byte length plus
    * a REAL header sniff: magic bytes identify png/jpeg/gif/bmp/wav/
    * webp, and dimensions are parsed from the header where the format
    * stores them at a fixed offset (PNG IHDR big-endian u32 pair at
    * offset 16, GIF logical-screen little-endian u16 pair at offset 6,
    * BMP BITMAPINFOHEADER little-endian i32 pair at offset 18). JPEG
    * dimensions live in a variable-position SOF marker, so jpeg
    * reports format with 0×0 (nothing here decodes pixels). Pure
    * codegen'd expressions: runs at scan speed and column pruning
    * still skips the blob for metadata-free queries.
    */
  def blobMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // hex() on binary yields uppercase; conv() parses it back to long
    def hexAt(pos: Int, len: Int): org.apache.spark.sql.Column =
      F.hex(F.substring(blob, pos, len))
    def u8(pos: Int): org.apache.spark.sql.Column =
      F.conv(hexAt(pos, 1), 16, 10).cast(LongType)
    def beU32(pos: Int): org.apache.spark.sql.Column =
      F.conv(hexAt(pos, 4), 16, 10).cast(LongType)
    def leU16(pos: Int): org.apache.spark.sql.Column =
      u8(pos) + u8(pos + 1) * 256L
    def leU32(pos: Int): org.apache.spark.sql.Column =
      u8(pos) + u8(pos + 1) * 256L + u8(pos + 2) * 65536L +
        u8(pos + 3) * 16777216L
    val isPng = hexAt(1, 8) === "89504E470D0A1A0A"
    val isJpeg = hexAt(1, 3) === "FFD8FF"
    val isGif = hexAt(1, 4) === "47494638"
    val isBmp = hexAt(1, 2) === "424D"
    val riff4 = hexAt(9, 4)
    val isRiff = hexAt(1, 4) === "52494646"
    val isWav = isRiff && riff4 === "57415645"
    val isWebp = isRiff && riff4 === "57454250"
    val isAvi = isRiff && riff4 === "41564920"
    val isMp4 = hexAt(5, 4) === "66747970" // ISO BMFF 'ftyp' box
    val format = F.when(isPng, "png").when(isJpeg, "jpeg")
      .when(isGif, "gif").when(isBmp, "bmp")
      .when(isWav, "wav").when(isWebp, "webp")
      .when(isAvi, "avi").when(isMp4, "mp4")
      .otherwise("unknown")
    // BMP biHeight is a SIGNED i32: top-down bitmaps store the
    // negative height — report abs() so [height > N] filters never
    // silently drop valid top-down BMPs
    def leI32abs(pos: Int): org.apache.spark.sql.Column = {
      val u = leU32(pos)
      F.when(u > 2147483647L, lit(4294967296L) - u).otherwise(u)
    }
    val width = F.when(isPng, beU32(17)).when(isGif, leU16(7))
      .when(isBmp, leU32(19)).otherwise(lit(0L))
    val height = F.when(isPng, beU32(21)).when(isGif, leU16(9))
      .when(isBmp, leI32abs(23)).otherwise(lit(0L))
    F.struct(
      F.coalesce(F.octet_length(blob).cast(LongType), lit(0L))
        .as("n_bytes"),
      F.coalesce(format, lit("unknown")).as("format"),
      F.coalesce(width, lit(0L)).cast(IntegerType).as("width"),
      F.coalesce(height, lit(0L)).cast(IntegerType).as("height"))
  }
}

package graft.jobs

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoders}
import java.io.File
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Result publishing + content addressing (reference: the ipfs verifier
  * publishes the results folder and returns its CID —
  * pkg/verifier/ipfs/verifier.go:37-43; results folder layout —
  * pkg/executor/docker/executor.go:295-338).
  *
  * Spark-native: write the DataFrame, then derive a deterministic content
  * id from one scan of the written files — per-row digests combined
  * order-independently on the executors (see [[contentId]]) — plus a
  * `_manifest.json` carrying rows/schema (the stdout/exitCode analog). A
  * hash-verified replica costs two Spark jobs: the write and the scan.
  *
  * Determinism note (SURVEY §7 hard part (a)): part-file names and row
  * order vary run to run, so the digest hashes a canonical row encoding
  * (the row's `to_json` text) and combines the row digests with
  * order-independent XOR and SUM, not raw parquet bytes. Two replicated
  * runs of a deterministic plan therefore hash equal even when Spark
  * splits parts differently.
  */
object ResultPublisher {

  trait Publisher {
    def publish(df: DataFrame, outDir: String): String
  }

  /** noop verifier analog (pkg/verifier/noop/verifier.go:68-70): write,
    * return the path unchanged. */
  object Noop extends Publisher {
    def publish(df: DataFrame, outDir: String): String = {
      // a schema-less result (noop executor) publishes an empty folder —
      // parquet cannot encode zero columns
      if (df.columns.isEmpty) Files.createDirectories(Paths.get(outDir))
      else df.write.mode("overwrite").parquet(outDir)
      outDir
    }
  }

  /** hash verifier ("CID" analog): write + manifest + canonical digest.
    *
    * Two Spark jobs per replica: the write, then one digest scan of the
    * files it wrote. The source plan executes exactly ONCE (the write); the
    * row count and digest come from the published parquet, so the CID
    * attests the published bytes, not a recomputation that could diverge,
    * and an expensive query is never paid twice per replica. The read-back
    * takes the schema the write used, so no footer-reading job runs to
    * infer it. */
  object Hash extends Publisher {
    def publish(df: DataFrame, outDir: String): String = {
      if (df.columns.isEmpty) { // schema-less noop result: empty folder CID
        Files.createDirectories(Paths.get(outDir))
        val cid = directoryId(outDir)
        writeManifest(outDir, 0, "", cid)
        return cid
      }
      df.write.mode("overwrite").parquet(outDir)
      val written = df.sparkSession.read.schema(df.schema).parquet(outDir)
      val (cid, rows) = contentIdWithCount(written)
      writeManifest(outDir, rows, written.schema.simpleString, cid)
      cid
    }
  }

  /** `_manifest.json`, laid out as `{"rows": 3, "schema": "…", "cid": "…"}`
    * and escaped by Jackson: a column name may hold any character. */
  private def writeManifest(outDir: String, rows: Long, schema: String,
                            cid: String): Unit = {
    val m = manifestMapper.createObjectNode()
      .put("rows", rows).put("schema", schema).put("cid", cid)
    Files.writeString(Paths.get(outDir, "_manifest.json"),
      manifestMapper.writer(ManifestLayout).writeValueAsString(m))
  }

  private val manifestMapper = new ObjectMapper()

  private object ManifestLayout extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit =
      g.writeRaw(", ")
  }

  /** Canonical content id of a DataFrame: per-row SHA-256 digests of the
    * row's `to_json` text, combined order-independently, then one
    * driver-side SHA-256 over the tiny summary.
    *
    * The 256-bit row digest splits into eight big-endian 32-bit lanes.
    * Each lane is combined two ways: XOR and exact SUM. Both are
    * associative and commutative, so partitions combine in any order;
    * together they close XOR's paired-duplicate cancellation
    * ({a,a,b} vs {c,c,b}) and SUM's additive rearrangements. The summary
    * is `n:x0:…:x7:s0:…:s7`; with no rows every lane is `null`, as SQL's
    * `bit_xor` and `sum` give.
    *
    * One scan: `to_json` runs in Catalyst, then one `mapPartitions` pass
    * hashes each row and folds the lanes; the driver combines the
    * per-partition partials. No shuffle, one Spark job.
    *
    * Properties: row-order independent (replicas with different partition
    * layouts hash equal), fully distributed (one partial per partition
    * reaches the driver, so it works at any output size), detects any
    * single-row change. Tradeoff vs hashing the sorted digest sequence: XOR
    * combination is weaker against *adversarial* collisions; the verifier
    * guards against nondeterminism between trusted replicas (A12), not
    * hostile nodes — the reference's v0 verifier doesn't even compare
    * (DESIGN.md:95-99). */
  def contentId(df: DataFrame): String = contentIdWithCount(df)._1

  /** [[contentId]] plus the row count, from the same scan. */
  def contentIdWithCount(df: DataFrame): (String, Long) = {
    import org.apache.spark.sql.functions._
    val json = df.select(
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).cast("binary"))
    val total = json.as(Encoders.BINARY)
      .mapPartitions(rows => Iterator.single(LaneFold.of(rows)))(
        Encoders.javaSerialization[LaneFold])
      .collect().foldLeft(new LaneFold)(_ merge _)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(total.summary.getBytes("UTF-8"))
    (md.digest().map("%02x".format(_)).mkString, total.n)
  }

  /** Row count plus, per 32-bit lane, the XOR and the exact sum. A lane is
    * below 2^32, so a sum is kept as `carry * 2^63 + low` with
    * `0 <= low < 2^63`: exact at any row count. */
  private[jobs] final class LaneFold extends Serializable {
    var n = 0L
    val xor = new Array[Long](Lanes)
    val low = new Array[Long](Lanes)
    val carry = new Array[Long](Lanes)

    def add(digest: Array[Byte]): Unit = {
      val b = ByteBuffer.wrap(digest)
      var i = 0
      while (i < Lanes) {
        val lane = b.getInt(4 * i) & 0xffffffffL
        xor(i) ^= lane
        addToSum(i, lane)
        i += 1
      }
      n += 1
    }

    private def addToSum(i: Int, v: Long): Unit = {
      low(i) += v // wraps negative exactly when it reaches 2^63
      if (low(i) < 0) { low(i) &= Long.MaxValue; carry(i) += 1 }
    }

    def sum(i: Int): BigInt = (BigInt(carry(i)) << 63) + low(i)

    def merge(o: LaneFold): LaneFold = {
      n += o.n
      for (i <- 0 until Lanes) {
        xor(i) ^= o.xor(i)
        addToSum(i, o.low(i))
        carry(i) += o.carry(i)
      }
      this
    }

    def summary: String =
      if (n == 0) ("0" +: Seq.fill(2 * Lanes)("null")).mkString(":")
      else (Seq(n.toString) ++ xor.map(_.toString) ++
        (0 until Lanes).map(sum(_).toString)).mkString(":")
  }

  private object LaneFold {
    def of(rows: Iterator[Array[Byte]]): LaneFold = {
      val md = MessageDigest.getInstance("SHA-256")
      val f = new LaneFold
      rows.foreach(r => f.add(md.digest(r)))
      f
    }
  }

  private final val Lanes = 8

  /** Directory digest (for published folders of arbitrary files). Keys each
    * file by its path RELATIVE to the root — so the digest distinguishes
    * layouts (`a/x.txt` vs `b/x.txt`), and duplicate base names in
    * different subdirs sort deterministically regardless of filesystem
    * traversal order (the idempotent context pin depends on this). */
  def directoryId(dir: String): String = {
    def files(f: File): Seq[File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).map(_.toSeq.flatMap(files)).getOrElse(Nil)
    val root = Paths.get(dir)
    val md = MessageDigest.getInstance("SHA-256")
    files(new File(dir))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => root.relativize(f.toPath).toString
        .replace(File.separatorChar, '/') ->
        sha256(Files.readAllBytes(f.toPath)))
      .sortBy(_._1)
      .foreach { case (n, h) => md.update(s"$n:$h\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
}

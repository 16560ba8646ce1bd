package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.{Base64, SplittableRandom}
import java.util.zip.{CRC32, GZIPOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Seeded corpus of encrypted, gzipped Mongo dumps plus the ledger of
  * what the import must make of every record.
  *
  * The ledger is written from the generator's own knowledge of each
  * record — never by calling the engine: rowkeys are CRC32 over the
  * key-sorted id JSON computed here, versions are epoch millis of the
  * generated dates, manifest lines and transformed record bodies are
  * assembled field by field. The program sees only the dump files and
  * the key service's answers.
  *
  * Record mix (per mille): 10 malformed lines, 10 without `_id`, 10
  * `_removed` and 10 `_archived` wrappers, 20 `$oid` ids, 5 string ids
  * whose escape sequence sends the record down the envelope re-parse
  * route, the rest plain object ids. Record sizes: nine in ten carry an
  * 80–480 byte payload, one in ten 1–3.5 KB.
  */
object Corpus {

  final case class Spec(files: Int, recordsPerFile: Int)

  /** (database, collection) per table; file i belongs to table i % 4. */
  val Collections: IndexedSeq[(String, String)] = IndexedSeq(
    ("core", "addressDeclaration"), ("core", "contract"),
    ("accounting", "statement"), ("agent", "toDo"))

  val Ok = "ok"
  val Malformed = "skipped_malformed"
  val MissingId = "skipped_missing_id"

  /** What one input line must become. Cells exist only for `Ok`. */
  final case class Expected(status: String, rowkey: Array[Byte], version: Long,
                            manifestLine: String, body: String)

  final case class FileLedger(db: String, coll: String, fileNumber: Int,
                              dataKey: String, iv: String, encryptedKey: String,
                              plain: Array[Byte], encrypted: Array[Byte],
                              records: IndexedSeq[Expected]) {
    val table: String = s"$db:$coll"
    def stem: String = s"$db.$coll.$fileNumber.json"
    def manifestName: String = f"db.$db.$coll-$fileNumber%06d.csv"
    def manifest: String = records.iterator.filter(_.status == Ok).map(_.manifestLine).mkString
    def cells: IndexedSeq[Expected] = records.filter(_.status == Ok)
    def metadataJson: String =
      s"""{"keyEncryptionKeyId": "cloudhsm:7,14", "encryptedEncryptionKey": "$encryptedKey", """ +
        s""""initialisationVector": "$iv"}"""
  }

  final case class Ledger(seed: Long, spec: Spec, files: IndexedSeq[FileLedger]) {
    def lines: Long = files.map(_.records.size.toLong).sum
    def count(status: String): Long = files.map(_.records.count(_.status == status).toLong).sum
    def plainBytes: Long = files.map(_.plain.length.toLong).sum
    def encryptedBytes: Long = files.map(_.encrypted.length.toLong).sum
    def tables: Seq[String] = files.map(_.table).distinct.sorted
  }

  def generate(seed: Long, spec: Spec): Ledger = {
    val files = java.util.stream.IntStream.range(0, spec.files).parallel()
      .mapToObj[FileLedger](i => file(seed, spec, i)).toArray.toIndexedSeq
      .asInstanceOf[IndexedSeq[FileLedger]]
    Ledger(seed, spec, files)
  }

  /** Data file + metadata sidecar for every file of the ledger. */
  def write(ledger: Ledger, dir: Path): Unit = {
    Files.createDirectories(dir)
    ledger.files.foreach { f =>
      Files.write(dir.resolve(f.stem + ".gz.enc"), f.encrypted)
      Files.write(dir.resolve(f.stem + ".encryption.json"), f.metadataJson.getBytes(UTF_8))
    }
  }

  // ------------------------------------------------------ generation

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Words = IndexedSeq("claim", "payment", "address", "review", "agent", "statement",
    "benefit", "contract", "north", "south", "street", "road", "house", "flat", "notes", "pending",
    "approved", "closed", "open", "summary", "annual", "monthly", "weekly", "report", "change",
    "update", "record", "history", "account", "balance", "credit", "debit", "entry", "line",
    "item", "detail", "status", "value", "period", "start", "end", "date", "time", "zone",
    "office", "team", "case", "work", "task", "queue", "owner", "group", "level", "stage",
    "A1", "B2", "C3", "D4", "E5", "F6", "G7", "H8", "9", "0")
  private val Types = IndexedSeq("addressDeclaration", "claimantEvent", "contractUpdate", "toDoItem")

  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)
  private val From2010 = Instant.parse("2010-01-01T00:00:00Z").toEpochMilli
  private val From2016 = Instant.parse("2016-01-01T00:00:00Z").toEpochMilli
  private val SixYears = 6L * 365 * 86400000L

  /** A generated date: (Mongo `$date` text, engine output text, millis). */
  private final case class Date(mongo: String, kafka: String, millis: Long)
  private def date(rng: SplittableRandom, from: Long): Date = {
    val ms = from + rng.nextLong(SixYears)
    val s = IsoFmt.format(Instant.ofEpochMilli(ms))
    Date(s, s.dropRight(1) + "+0000", ms)
  }

  private def payload(rng: SplittableRandom): String = {
    val target = if (rng.nextInt(10) == 0) 1000 + rng.nextInt(2500) else 80 + rng.nextInt(400)
    val sb = new StringBuilder(target + 16)
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(if (rng.nextInt(12) == 0) ", " else " ")
      sb.append(Words(rng.nextInt(Words.size)))
    }
    sb.toString
  }

  private def quoted(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")

  /** Key-sorted compact id JSON — the rowkey's text. */
  def sortedId(fields: Seq[(String, String)]): String = quoted(fields.sortBy(_._1))

  def rowkey(sortedIdJson: String): Array[Byte] = {
    val bytes = sortedIdJson.getBytes(UTF_8)
    val crc = new CRC32()
    crc.update(bytes)
    java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array() ++ bytes
  }

  private def csv(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n')) "\"" + v.replace("\"", "\"\"") + "\""
    else v

  private def manifestLine(id: String, version: Long, db: String, coll: String,
                           originalId: String, innerType: String): String =
    Seq(id, version.toString, db, coll, "IMPORT", "HDI", originalId, innerType).map(csv).mkString("", "|", "\n")

  private def file(seed: Long, spec: Spec, i: Int): FileLedger = {
    val rng = new SplittableRandom(mix(seed, i.toLong))
    val (db, coll) = Collections(i % Collections.size)
    val fileNumber = i + 1
    val lines = new StringBuilder
    val records = (0 until spec.recordsPerFile).map { j =>
      val (line, expected) = record(rng, db, coll, fileNumber, j)
      lines.append(line).append('\n')
      expected
    }
    val plain = lines.toString.getBytes(UTF_8)
    val gz = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(gz)
    out.write(plain); out.close()
    val key = new Array[Byte](16); rng.nextBytes(key)
    val iv = new Array[Byte](16); rng.nextBytes(iv)
    val cipher = Cipher.getInstance("AES/CTR/NoPadding")
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    val b64 = Base64.getEncoder
    FileLedger(db, coll, fileNumber, b64.encodeToString(key), b64.encodeToString(iv),
      b64.encodeToString(key.reverse), plain, cipher.doFinal(gz.toByteArray), records)
  }

  private def record(rng: SplittableRandom, db: String, coll: String,
                     fileNumber: Int, j: Int): (String, Expected) = {
    val kind = rng.nextInt(1000)
    val someId = java.lang.Long.toHexString(rng.nextLong()) + s"-$fileNumber-$j"
    val declarationId = s"d$fileNumber.$j"
    val tpe = Types(rng.nextInt(Types.size))
    val contract = s"c-${rng.nextInt(1000000)}"
    val text = payload(rng)
    val count = rng.nextInt(100000)
    val created = date(rng, From2010)
    val lastModified = date(rng, From2016)
    val idFields = Seq("someId" -> someId, "declarationId" -> declarationId)
    val idJson = s"""{"someId": "$someId", "declarationId": "$declarationId"}"""
    val common = s""""type": "$tpe", "contractId": "$contract", "payload": "$text", "count": $count"""
    val commonOut = s""""type":"$tpe","contractId":"$contract","payload":"$text","count":$count"""
    val dates = s""""createdDateTime": {"$$date": "${created.mongo}"}, "_version": 2, """ +
      s""""_lastModifiedDateTime": {"$$date": "${lastModified.mongo}"}"""
    val datesOut = s""""_version":2,"_lastModifiedDateTime":"${lastModified.kafka}",""" +
      s""""createdDateTime":"${created.kafka}""""
    def ok(rowkeyText: String, version: Long, manifestId: String, originalId: String,
           innerType: String, body: String): Expected =
      Expected(Ok, rowkey(rowkeyText), version,
        manifestLine(manifestId, version, db, coll, originalId, innerType), body)
    def skipped(status: String): Expected = Expected(status, Array.emptyByteArray, 0L, "", "")

    if (kind < 10) // truncated mid-object
      (s"""{"_id": $idJson, $common, "broken": """, skipped(Malformed))
    else if (kind < 20)
      (s"""{$common, $dates}""", skipped(MissingId))
    else if (kind < 40) {
      // `_removed` / `_archived` soft-delete wrappers: the inner record
      // becomes the record, the wrapper's dates are transplanted, the
      // type turns MONGO_DELETE and the wrapper's own date is the version
      val (wrapper, dateField) = if (kind < 30) ("_removed", "_removedDateTime") else ("_archived", "_archivedDateTime")
      val deleted = date(rng, From2016)
      val line = s"""{"_id": $idJson, "$wrapper": {"_id": $idJson, $common}, """ +
        s""""_lastModifiedDateTime": {"$$date": "${lastModified.mongo}"}, """ +
        s""""$dateField": {"$$date": "${deleted.mongo}"}, "timestamp": 1}"""
      val body = s"""{"_id":${quoted(idFields)},$commonOut,"timestamp":1,"@type":"MONGO_DELETE",""" +
        s""""_lastModifiedDateTime":"${lastModified.kafka}","$dateField":"${deleted.kafka}"}"""
      val sorted = sortedId(idFields)
      (line, ok(sorted, deleted.millis, sorted, sorted, "MONGO_DELETE", body))
    } else if (kind < 60) {
      // `$oid` id: flattened to its string, moved to the end of the record
      val oid = f"${rng.nextLong() & 0xffffffffffffL}%012x$fileNumber%06x$j%06x"
      val line = s"""{"_id": {"$$oid": "$oid"}, $common, $dates}"""
      val body = s"""{$commonOut,"_version":2,"_id":"$oid","_lastModifiedDateTime":"${lastModified.kafka}",""" +
        s""""createdDateTime":"${created.kafka}"}"""
      (line, ok(quoted(Seq("id" -> oid)), lastModified.millis, oid, quoted(Seq("$oid" -> oid)),
        "MONGO_IMPORT", body))
    } else if (kind < 65) {
      // string id holding `\/`: the envelope splices it raw, so the
      // rowkey comes from the re-parsed (unescaped) id while the manifest
      // keeps the raw text
      val raw = s"""$someId\\/x"""
      val line = s"""{"_id": "${raw.replace("\\", "\\\\")}", $common, $dates}"""
      val body = s"""{"_id":"${raw.replace("\\", "\\\\")}",$commonOut,$datesOut}"""
      (line, ok(quoted(Seq("id" -> s"$someId/x")), lastModified.millis, raw, raw, "MONGO_IMPORT", body))
    } else {
      val line = s"""{"_id": $idJson, $common, $dates}"""
      val body = s"""{"_id":${quoted(idFields)},$commonOut,$datesOut}"""
      val sorted = sortedId(idFields)
      (line, ok(sorted, lastModified.millis, sorted, sorted, "MONGO_IMPORT", body))
    }
  }
}

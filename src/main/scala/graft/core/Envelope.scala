package graft.core

import java.text.SimpleDateFormat
import java.util.{Date, TimeZone}

/** HDI message envelope production — reference K1
  * (MessageProducer.kt:19-69). The envelope is built by string template
  * (NOT a JSON serializer) because `_id` is spliced raw: quoted when the
  * id is a string, verbatim JSON when it is an object — a splice no
  * struct serializer can express. Whitespace matches the reference
  * template byte-for-byte (the envelope's length feeds byte-capped
  * batching, and the integration stack decrypts cells back to this
  * exact text).
  */
object Envelope {

  /** Run-scoped identity, injectable for deterministic tests.
    * Reference: wall-clock `timestamp` (MessageProducer.kt:37-38),
    * lazy-singleton UUID `unitOfWorkId` (:88-90), `traceId` from the
    * correlation-id property, `version` from the jar manifest. */
  final case class RunIdentity(unitOfWorkId: String, traceId: String, hdiVersion: String, clock: () => Date)
  object RunIdentity {
    def live(traceId: String, hdiVersion: String): RunIdentity =
      RunIdentity(java.util.UUID.randomUUID().toString, traceId, hdiVersion, () => new Date())
  }

  final case class EncryptionResult(initialisationVector: String, encrypted: String)
  final case class DataKeyResult(dataKeyEncryptionKeyId: String, plaintextDataKey: String, ciphertextDataKey: String)

  /** Per-thread wall-clock formatter that remembers its last
    * (millis → text): the clock is read once per record, and records of
    * one millisecond share the text (SimpleDateFormat is reusable within
    * a thread, never across). */
  private final class WallClock {
    private val df = new SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss.SSS")
    df.setTimeZone(TimeZone.getTimeZone("UTC"))
    private var lastMillis = 0L
    private var lastText: String = null
    def format(d: Date): String = {
      if (lastText == null || d.getTime != lastMillis) {
        lastText = df.format(d)
        lastMillis = d.getTime
      }
      lastText
    }
  }

  private val wallClock: ThreadLocal[WallClock] = ThreadLocal.withInitial(() => new WallClock)

  private def wallClockFormat(d: Date): String = wallClock.get().format(d)

  /** `@type` of the transformed record: primitive → its string value,
    * absent → MONGO_IMPORT, object/array/null → error (the reference's
    * getAsJsonPrimitive throws, and the record is F4-skipped). */
  def recordType(record: JObj): String = record.get("@type") match {
    case None => Versions.MongoImport
    case Some(JStr(s)) => s
    case Some(JNum(raw)) => raw
    case Some(JBool(b)) => b.toString
    case Some(other) => throw JsonParseException(s"@type is not a primitive: $other", 0)
  }

  /** The envelope string plus the parts downstream consumers would
    * otherwise re-parse OUT of it: `innerType` is exactly what
    * `Versions.getType` reads back (the template renders `@type` as a
    * quoted string, so the reparse always yields the same value), and
    * `messageIdJson` is the rendered `_id` literal (`"..."` for string
    * ids, the compact object/number rendering otherwise) — the ≤100-byte
    * input `Rowkey.getId` pattern-matches, without re-parsing the
    * multi-KB envelope per record. */
  final case class ProducedMessage(envelope: String, innerType: String, messageIdJson: String)

  def produceMessage(record: JObj,
                     id: String,
                     idIsString: Boolean,
                     idWasModified: Boolean,
                     lastModifiedDateTime: String,
                     lastModifiedDateTimeSourceKey: String,
                     createdDateTimeWasModified: Boolean,
                     removedDateTimeWasModified: Boolean,
                     archivedDateTimeWasModified: Boolean,
                     isRemovedRecord: Boolean,
                     isArchivedRecord: Boolean,
                     encryptionResult: EncryptionResult,
                     dataKeyResult: DataKeyResult,
                     database: String,
                     collection: String,
                     identity: RunIdentity): String =
    produceMessageParts(record, id, idIsString, idWasModified, lastModifiedDateTime,
      lastModifiedDateTimeSourceKey, createdDateTimeWasModified, removedDateTimeWasModified,
      archivedDateTimeWasModified, isRemovedRecord, isArchivedRecord, encryptionResult,
      dataKeyResult, database, collection, identity).envelope

  def produceMessageParts(record: JObj,
                          id: String,
                          idIsString: Boolean,
                          idWasModified: Boolean,
                          lastModifiedDateTime: String,
                          lastModifiedDateTimeSourceKey: String,
                          createdDateTimeWasModified: Boolean,
                          removedDateTimeWasModified: Boolean,
                          archivedDateTimeWasModified: Boolean,
                          isRemovedRecord: Boolean,
                          isArchivedRecord: Boolean,
                          encryptionResult: EncryptionResult,
                          dataKeyResult: DataKeyResult,
                          database: String,
                          collection: String,
                          identity: RunIdentity): ProducedMessage = {
    val tpe = recordType(record)
    val timestamp = wallClockFormat(identity.clock())
    val messageId = if (idIsString) "\"" + id + "\"" else id
    val lastModifiedDateTimeWasModified = lastModifiedDateTimeSourceKey != Transforms.LastModifiedField
    val envelope = s"""{
   "unitOfWorkId": "${identity.unitOfWorkId}",
   "timestamp": "$timestamp",
   "traceId": "${identity.traceId}",
   "@type": "HDI",
   "version": "${identity.hdiVersion}",
   "message": {
       "@type": "$tpe",
       "_id": $messageId,
       "mongo_format_stripped_from_id": $idWasModified,
       "last_modified_date_time_was_altered": $lastModifiedDateTimeWasModified,
       "created_date_time_was_altered": $createdDateTimeWasModified,
       "removed_date_time_was_altered": $removedDateTimeWasModified,
       "archived_date_time_was_altered": $archivedDateTimeWasModified,
       "historic_removed_record_altered_on_import": $isRemovedRecord,
       "historic_archived_record_altered_on_import": $isArchivedRecord,
       "_lastModifiedDateTime": "$lastModifiedDateTime",
       "timestamp_created_from": "$lastModifiedDateTimeSourceKey",
       "collection" : "$collection",
       "db": "$database",
       "dbObject": "${encryptionResult.encrypted}",
       "encryption": {
           "keyEncryptionKeyId": "${dataKeyResult.dataKeyEncryptionKeyId}",
           "initialisationVector": "${encryptionResult.initialisationVector}",
           "encryptedEncryptionKey": "${dataKeyResult.ciphertextDataKey}"
       }
   }
}"""
    ProducedMessage(envelope, tpe, messageId)
  }
}

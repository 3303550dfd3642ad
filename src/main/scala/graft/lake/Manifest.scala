package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One merge-on-read delete vector: `file` (relative to `deletes/`)
  * holds the distinct matching values of `cols`; the vector applies to
  * data files whose `addedAt` version is strictly below `version`.
  */
private[graft] case class DeleteVector(file: String, cols: Seq[String], version: Long)

/** One [[Snapshots]] version manifest (`_snapshots/<table>/v<N>.json`).
  * `addedAt` aligns index-wise with `files` (all 0 for pre-tracking
  * manifests — every file then reads as addedAt 0, i.e. subject to every
  * delete vector, the conservative direction). `operation` records the
  * verb that produced the version (commit / append / replace / merge /
  * update / delete / truncate / compact / …) and `partitionCols` the
  * table's partition layout — both absent on pre-tracking manifests.
  * `streamEpoch` is the `(queryId, epochId)` identity of a streaming-sink
  * commit — the exactly-once ledger a replayed micro-batch epoch is
  * deduplicated against (the Delta `txnAppId`/`txnVersion` idea, carried
  * in the manifest itself). `epochs` is that ledger's HIGH-WATER index
  * (queryId → highest committed epochId), carried forward monotonically
  * by EVERY verb (see [[next]]) so [[Snapshots.epochVersion]]'s replay
  * probe is O(1) against the latest manifest instead of a scan over the
  * whole history.
  * `changeFiles` is the version's CDC capture (paths relative to
  * `changes/`): `Some(files)` when the committing verb wrote
  * pre/post-image change rows (`_change_type` ∈ insert / delete /
  * update_preimage / update_postimage), `Some(Nil)` when it captured and
  * no row changed, `None` when the version carries no capture — the
  * change feed then falls back to file-add attribution (and refuses
  * rewrite-shaped versions, which adds alone cannot attribute).
  * `droppedPhysical` lists the physical names RETIRED by a column drop.
  */
private[graft] case class Manifest(
    committedAtMillis: Option[Long] = None,
    schema: Option[StructType] = None,
    deletes: Seq[DeleteVector] = Nil,
    addedAt: Seq[Long] = Nil,
    files: Seq[String] = Nil,
    operation: Option[String] = None,
    partitionCols: Seq[String] = Nil,
    streamEpoch: Option[(String, Long)] = None,
    epochs: Map[String, Long] = Map.empty,
    changeFiles: Option[Seq[String]] = None,
    droppedPhysical: Seq[String] = Nil) {

  /** file → version it was added in (0 when untracked). */
  def addedAtOf: Map[String, Long] = files.zip(addedAt).toMap

  /** The partition columns: as recorded, else (a manifest that predates
    * layout tracking) read off the first live file's `c=v/` directories
    * through [[PartitionPath]]. */
  def partitionLayout: Seq[String] =
    if (partitionCols.nonEmpty) partitionCols
    else files.headOption.toSeq.flatMap(PartitionPath.layout).map(_._1)

  /** `s` as this version's schema, partition columns LAST in layout
    * order: file-source reads emit them last, so the stored schema equals
    * the read schema byte for byte. */
  def withSchema(s: StructType): Manifest = copy(schema = Some(StructType(
    s.fields.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.flatMap(c => s.fields.find(_.name == c)))))

  /** The starting point of the version a verb publishes after this one.
    * What describes the TABLE carries forward — `schema`, `files`,
    * `addedAt`, `deletes`, `partitionCols`, `epochs`, `droppedPhysical`;
    * the verb overrides what it changes. What describes ONE version
    * resets — `committedAtMillis` (stamped at publish), `operation`,
    * `streamEpoch` (only the epoch's own commit carries its identity) and
    * `changeFiles` (a capture belongs to exactly one version).
    */
  def next(operation: String): Manifest =
    copy(committedAtMillis = None, operation = Some(operation),
      streamEpoch = None, changeFiles = None)

  /** Compact JSON; empty optional fields are omitted, `files` comes last
    * and `epochs` keys are sorted, so manifests diff cleanly. */
  def toJson: String = {
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    def unlessEmpty[A](k: String, xs: Seq[A])(enc: Seq[A] => JValue) =
      if (xs.isEmpty) Nil else List(k -> enc(xs))
    val fields: List[JField] =
      committedAtMillis.map(t => "committedAtMillis" -> JLong(t)).toList ++
        operation.map(o => "operation" -> JString(o)) ++
        streamEpoch.toList.flatMap { case (q, e) =>
          List("epochQuery" -> JString(q), "epochId" -> JLong(e)) } ++
        unlessEmpty("epochs", epochs.toSeq.sortBy(_._1))(es =>
          JObject(es.map { case (q, e) => q -> JLong(e) }.toList)) ++
        changeFiles.map(cf => "changeFiles" -> strs(cf)) ++
        unlessEmpty("droppedPhysical", droppedPhysical)(strs) ++
        unlessEmpty("partitionCols", partitionCols)(strs) ++
        schema.map(s => "schema" -> JString(s.json)) ++
        unlessEmpty("deletes", deletes)(ds => JArray(ds.map(d => JObject(
          "file" -> JString(d.file), "cols" -> strs(d.cols),
          "v" -> JLong(d.version))).toList)) ++
        unlessEmpty("addedAt", addedAt)(xs => JArray(xs.map(JLong(_)).toList)) ++
        List("files" -> strs(files))
    compact(render(JObject(fields)))
  }
}

private[graft] object Manifest {

  /** Parse a manifest written by [[Manifest.toJson]] or by any earlier
    * writer (same key names; optional keys may be absent). `addedAt` is
    * padded with 0 to `files.length`. Anything malformed — not JSON, a
    * non-object top level, a missing `files`, a wrongly typed value, a
    * non-integer number — fails with an [[IllegalArgumentException]]
    * naming the field.
    */
  def fromJson(json: String): Manifest = {
    val top = asObj("<top level>", scala.util.Try(parse(json)).getOrElse(
      throw new IllegalArgumentException("manifest is not valid JSON")))
    def opt[A](k: String)(read: (String, JValue) => A): Option[A] =
      top.get(k).map(read(k, _))
    val files = opt("files")(asStrings).getOrElse(
      throw new IllegalArgumentException("manifest field 'files' is missing"))
    Manifest(
      committedAtMillis = opt("committedAtMillis")(asLong),
      schema = opt("schema")(asString).map(s => DataType.fromJson(s) match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"manifest field 'schema': expected a struct type, got ${other.typeName}")
      }),
      deletes = opt("deletes")(asArray).getOrElse(Nil).map { d =>
        val o = asObj("deletes", d)
        def need[A](k: String)(read: (String, JValue) => A): A =
          read(s"deletes.$k", o.getOrElse(k, JNothing))
        DeleteVector(need("file")(asString), need("cols")(asStrings),
          need("v")(asLong))
      },
      addedAt = opt("addedAt")(asArray).getOrElse(Nil)
        .map(asLong("addedAt", _)).padTo(files.length, 0L),
      files = files,
      operation = opt("operation")(asString),
      partitionCols = opt("partitionCols")(asStrings).getOrElse(Nil),
      streamEpoch = for {
        q <- opt("epochQuery")(asString)
        e <- opt("epochId")(asLong)
      } yield (q, e),
      epochs = opt("epochs")(asObj).getOrElse(Map.empty)
        .map { case (q, e) => q -> asLong(s"epochs.$q", e) },
      changeFiles = opt("changeFiles")(asStrings),
      droppedPhysical = opt("droppedPhysical")(asStrings).getOrElse(Nil))
  }

  /** A reader of one JSON shape; any other value fails naming `field`. */
  private def as[A](expected: String)(read: PartialFunction[JValue, A])
      : (String, JValue) => A = (field, v) =>
    read.applyOrElse(v, (got: JValue) => throw new IllegalArgumentException(
      s"manifest field '$field': expected $expected, got " +
        (if (got == JNothing) "nothing" else compact(render(got)))))

  private val asObj = as("an object") { case JObject(fs) => fs.toMap }
  private val asArray = as("an array") { case JArray(xs) => xs }
  private val asString = as("a string") { case JString(s) => s }
  private val asLong = as("an integer") {
    case JInt(n) if n.isValidLong => n.toLong
    case JLong(n) => n
  }
  private def asStrings(field: String, v: JValue): List[String] =
    asArray(field, v).map(asString(field, _))
}

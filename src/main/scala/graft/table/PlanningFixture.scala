package graft.table

import graft.format._

/** Metadata-plane fixture builder for PLANNING-latency contracts
  * (ScaleSmoke contract 17): fabricates append commits whose manifests
  * reference SYNTHETIC data files that are never materialized — planning
  * reads only the metadata tree (manifest list → manifests → stats), so a
  * 50,000-file table costs milliseconds to build instead of the minutes
  * 50,000 real parquet writes would take, and the contract never scans a
  * data path. Lives in the table package to reuse the package-private
  * manifest/commit internals instead of widening their visibility; a
  * fabricated append is an append's [[DataChange]] (existing manifest list
  * + one new manifest), so phase-1/phase-2 planning sees the real layout.
  */
private[graft] object PlanningFixture {

  /** One fabricated append commit: `files` become one new manifest
    * appended to the current manifest list.
    */
  def appendFabricated(t: GraftTable, files: Seq[DataFile]): Snapshot =
    t.commitChange(None)(_ => DataChange("append", addedData = files))

  /** One fabricated commit appending MANY manifests at once — the BULK
    * builder for order-of-magnitude planning contracts (contract 19's
    * 5,000 manifests): planning reads the manifest list and manifests,
    * never snapshot lineage, so one bulk commit plans identically to
    * 5,000 single-manifest commits while costing O(n) instead of the
    * O(n²) manifest-list rewrites those commits would pay to build.
    */
  def appendFabricatedMany(t: GraftTable, manifests: Seq[Seq[DataFile]]): Snapshot =
    t.commitChange(None)(_ => DataChange("append",
      manifests = Some(m => t.currentManifests(m) ++ manifests.map(t.writeManifest(m, _)))))

  /** (manifest-list bytes, per-manifest file bytes) of the CURRENT
    * snapshot's metadata tree — the contract-19 planning READ-VOLUME
    * probes: phase 1 reads exactly the manifest list; phase 2 reads the
    * surviving manifests' files.
    */
  def metadataVolume(t: GraftTable): (Long, Seq[Long]) = {
    val m = t.meta
    val s = m.currentSnapshot.get
    val manifests = t.readManifestList(m, s)
    (java.nio.file.Files.size(java.nio.file.Paths.get(
        GraftUtil.resolve(m.location, s.manifestListPath))),
      manifests.map(mm => java.nio.file.Files.size(
        java.nio.file.Paths.get(GraftUtil.resolve(m.location, mm.path)))))
  }

  /** A synthetic data file in identity partition `p = part` carrying
    * honest stats for both the `id` and `p` columns — `id` spans
    * [id, idMax] (point stats when idMax defaults to id; a RANGE for the
    * contract-21 ranged-stats shape) — so phase-2 file pruning exercises
    * the same bounds logic real writes produce. The path is unique but
    * never created.
    */
  def syntheticFile(m: TableMetadata, part: Long, id: Long,
                    rows: Long = 1000L, bytes: Long = 128L * 1024 * 1024,
                    idMax: Option[Long] = None): DataFile = {
    val schema = m.schemas(m.currentSchemaId)
    val idField = schema.fields.find(_.name == "id").get
    val pField = schema.fields.find(_.name == "p").get
    def stat(dt: org.apache.spark.sql.types.DataType, lo: Long, hi: Long) =
      ColStats(Some(Canonical.toJsonString(dt, lo)), Some(Canonical.toJsonString(dt, hi)), Some(0L))
    DataFile(
      path = s"data/p=$part/fabricated-${java.util.UUID.randomUUID()}.parquet",
      content = "data",
      partition = Map("p" -> Some(Canonical.toJsonString(pField.dataType, part))),
      recordCount = rows,
      fileSizeBytes = bytes,
      schemaId = m.currentSchemaId,
      specId = m.defaultSpecId,
      stats = Map(
        GraftSchema.fieldId(idField) -> stat(idField.dataType, id, idMax.getOrElse(id)),
        GraftSchema.fieldId(pField) -> stat(pField.dataType, part, part)))
  }
}

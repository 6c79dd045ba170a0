package graft.engine

import org.apache.spark.sql.SparkSession

/** THE engine warehouse — one durable root for every engine-owned
  * catalog asset (r15 verdict task 4). Before this, the ANN index
  * warehouse (`-Dgraft.ann.warehouse`, SimilarityOps) and the graph
  * edge warehouse (per-JVM tempdir, GraphOps) were two parallel
  * lifecycle implementations of the same contract: build once,
  * content-address, reload across JVMs, never serve a partial table.
  * This object is that contract, shared:
  *
  *   - **Root**: `-Dgraft.warehouse=/durable/path` makes every asset
  *     survive the process (single writer per warehouse — the
  *     bucketedEdgeTable pid discipline applies to the NATIVE tables;
  *     catalog tables are content-addressed so concurrent readers of a
  *     durable root are safe, concurrent WRITERS are the caller's
  *     lock). `-Dgraft.ann.warehouse` still works as a back-compat
  *     alias. Default: a per-JVM tempdir reaped at exit.
  *   - **Sessions**: each asset family binds a GraftCatalog over its
  *     subdirectory of the root through one SPJ-configured child
  *     session per (root session, family) — v2 bucketing + one-side
  *     shuffle + relaxed co-partition check, isolated so the
  *     relaxation never leaks (the r5/r6 lesson).
  *   - **Adopt-or-rebuild**: [[adopt]] serves a persisted table only
  *     when it exists, carries every required property, and has
  *     committed data; anything less (a writer died between CREATE and
  *     the append's manifest commit) is dropped so the caller's build
  *     path recreates it rather than serving a partial asset. Builders
  *     whose completeness isn't witnessed by a pre-append property
  *     call [[markComplete]] after the append; adoption then requires
  *     [[CompleteProp]].
  */
object Warehouse {

  /** Marker a builder sets AFTER its append commits; adoption of
    * tables without an intrinsic completeness witness requires it. */
  val CompleteProp = "graft.complete"

  lazy val root: String =
    sys.props.get("graft.warehouse")
      .orElse(sys.props.get("graft.ann.warehouse")) match {
      case Some(p) =>
        new java.io.File(p).mkdirs()
        p
      case None =>
        val p = java.nio.file.Files.createTempDirectory("graft_warehouse")
        graft.util.TmpReaper.track(p.toString)
        p.toString
    }

  /** Subdirectory of the root for one asset family. */
  def assetDir(family: String): String = {
    val d = new java.io.File(root, family)
    d.mkdirs()
    d.getAbsolutePath
  }

  private val sessions = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), SparkSession]()

  /** SPJ-configured child session with catalog `cat` bound to the
    * family's subdirectory of the warehouse root. Keyed by (session,
    * catalog, family): the catalog's warehouse directory comes from
    * `family`, so the same catalog name bound to two families must not
    * share a child session (r16 advice — the second caller would
    * silently read the first family's directory). */
  def spjSession(s: SparkSession, cat: String, family: String): SparkSession =
    sessions.computeIfAbsent((s, cat, family), _ => {
      val iso = s.newSession()
      iso.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      iso.conf.set(s"spark.sql.catalog.$cat.warehouse", assetDir(family))
      iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      iso
    })

  /** Mark `ident` complete (call after the data append commits). */
  def markComplete(iso: SparkSession, ident: String): Unit =
    iso.sql(
      s"ALTER TABLE $ident SET TBLPROPERTIES ('$CompleteProp'='true')")

  /** Adopt a persisted table: Some(properties) when it exists, carries
    * every `required` property, and holds at least one committed row;
    * otherwise the partial table is DROPPED and None returned so the
    * caller rebuilds. A table the catalog refuses to load (one written
    * with the deleted JSON-lines payload) is None too; the caller's
    * build path drops it before it creates the new one. Caller holds
    * its family's build lock. */
  def adopt(iso: SparkSession, ident: String,
      required: Seq[String]): Option[Map[String, String]] = {
    if (scala.util.Try(iso.table(ident)).isFailure) None
    else {
      val props = iso.sql(s"SHOW TBLPROPERTIES $ident").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      if (required.forall(props.contains) &&
          iso.table(ident).limit(1).count() > 0) Some(props)
      else {
        iso.sql(s"DROP TABLE IF EXISTS $ident")
        None
      }
    }
  }
}

package graft.schema

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** One immutable revision of a named schema. The revision id is the first 8
  * hex chars of the MD5 of the schema's canonical JSON — deterministic, so
  * re-registering an identical schema yields the identical id (mirrors the
  * revision ids the reference surfaces per message,
  * `/root/reference/README.md:295` `googclient_schemarevisionid=3afd3cc8`,
  * declared at `/root/reference/terraform/main.tf:358-374`).
  */
final case class SchemaRevision(name: String, revisionId: String, schema: StructType)

/** Revision-compatibility modes, the managed-registry contract (Pub/Sub
  * schema revisions / Confluent registry semantics; the trichotomy the
  * reference's goldens encode — G5 ADD `age` flows, G6 DROP `zipcode`
  * errors, `/root/reference/README.md:299-450`):
  *
  *  - `Backward`: a consumer on the NEW schema can read data written under
  *    the OLD — removals are fine, additions must be nullable (the reader
  *    null-fills what old data lacks);
  *  - `Forward`: a consumer still on the OLD schema can read data written
  *    under the NEW — additions are fine (the old reader ignores them),
  *    removals are allowed only for nullable fields (a dropped REQUIRED
  *    field breaks every old reader — the reference's G6 error);
  *  - `Full`: both directions;
  *  - `NoCheck`: anything goes (the pre-round-12 behavior).
  *
  * In-place type changes and nullable→required tightening break BOTH
  * directions and are rejected under every checked mode. */
sealed abstract class CompatibilityMode(val name: String)
object CompatibilityMode {
  case object NoCheck  extends CompatibilityMode("NONE")
  case object Backward extends CompatibilityMode("BACKWARD")
  case object Forward  extends CompatibilityMode("FORWARD")
  case object Full     extends CompatibilityMode("FULL")
}

final class SchemaCompatibilityException(val violations: Seq[String])
  extends IllegalArgumentException(
    s"proposed schema revision is incompatible: ${violations.mkString("; ")}")

/** Versioned schema store (SURVEY.md §1.3): topic/sink/source schemas evolve
  * independently, and every published message is stamped with the topic
  * schema revision it validated against.
  *
  * Registry state lives on the driver (schemas are control-plane metadata,
  * a few KB) — executors only ever see the resolved [[StructType]] captured
  * in the query plan, so this scales to any cluster size.
  */
final class SchemaRegistry {

  private val revisions = mutable.LinkedHashMap.empty[String, Vector[SchemaRevision]]

  def revisionIdOf(schema: StructType): String =
    MessageDigest.getInstance("MD5").digest(schema.json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  /** Register a (possibly new) revision. Idempotent when the schema equals
    * the CURRENT latest; re-registering an older schema appends it again so
    * it becomes latest (a sink table altered back to a previous shape must
    * resolve to that shape). */
  def register(name: String, schema: StructType): SchemaRevision = synchronized {
    val rev = SchemaRevision(name, revisionIdOf(schema), schema)
    val existing = revisions.getOrElse(name, Vector.empty)
    if (!existing.lastOption.exists(_.revisionId == rev.revisionId))
      revisions(name) = existing :+ rev
    rev
  }

  /** Register a revision GATED by a compatibility mode against the current
    * latest (the managed-registry write path; [[register]] remains the
    * ungated/NoCheck form). The FIRST revision of a name always passes —
    * there is nothing to be compatible with. Throws
    * [[SchemaCompatibilityException]] listing every violation; on rejection
    * the registry is untouched (the current latest keeps serving). */
  def registerRevision(name: String, schema: StructType,
                       mode: CompatibilityMode): SchemaRevision = synchronized {
    revisions.getOrElse(name, Vector.empty).lastOption.foreach { cur =>
      val violations = SchemaRegistry.incompatibilities(cur.schema, schema, mode)
      if (violations.nonEmpty) throw new SchemaCompatibilityException(violations)
    }
    register(name, schema)
  }

  def latest(name: String): SchemaRevision = synchronized {
    revisions.get(name).flatMap(_.lastOption)
      .getOrElse(throw new NoSuchElementException(s"no schema registered under '$name'"))
  }

  def revision(name: String, revisionId: String): Option[SchemaRevision] = synchronized {
    revisions.getOrElse(name, Vector.empty).find(_.revisionId == revisionId)
  }

  def history(name: String): Seq[SchemaRevision] = synchronized {
    revisions.getOrElse(name, Vector.empty)
  }

  /** Persist the full revision history as JSON files
    * (`<dir>/<name>/<seq>-<revisionId>.json`, StructType's own JSON
    * format) — the durable store the reference keeps in its managed
    * registry. Control-plane-sized: one small file per revision. */
  def persist(dir: String): Unit = synchronized {
    val (fs, root) = SchemaRegistry.fsOf(dir)
    for ((name, revs) <- revisions; (rev, i) <- revs.zipWithIndex) {
      val out = fs.create(new Path(new Path(root, name), f"$i%05d-${rev.revisionId}.json"), true)
      try out.write(rev.schema.json.getBytes(UTF_8)) finally out.close()
    }
  }
}

object SchemaRegistry {

  /** Every way `proposed` breaks `mode` relative to `current` (empty =
    * compatible). Top-level field analysis — names are the identity (the
    * wire format is JSON objects), matched case-sensitively. */
  def incompatibilities(current: StructType, proposed: StructType,
                        mode: CompatibilityMode): Seq[String] = {
    import CompatibilityMode._
    if (mode == NoCheck) return Nil
    val cur = current.fields.map(f => f.name -> f).toMap
    val prop = proposed.fields.map(f => f.name -> f).toMap
    val added = proposed.fields.filterNot(f => cur.contains(f.name))
    val removed = current.fields.filterNot(f => prop.contains(f.name))
    val shared = proposed.fields.flatMap(p => cur.get(p.name).map(c => (c, p)))

    val typeChanges = shared.collect {
      case (c, p) if c.dataType != p.dataType =>
        s"field '${c.name}' changes type ${c.dataType.simpleString} -> " +
          s"${p.dataType.simpleString} (breaks readers on both sides)"
    }
    val backward =
      if (mode == Backward || mode == Full)
        added.collect { case f if !f.nullable =>
          s"added field '${f.name}' is required (a new-schema reader cannot " +
            "null-fill it from old data) [BACKWARD]"
        }.toSeq ++ shared.collect {
          case (c, p) if c.nullable && !p.nullable =>
            s"field '${c.name}' tightens nullable -> required (old data may " +
              "hold nulls the new reader rejects) [BACKWARD]"
        }
      else Nil
    val forward =
      if (mode == Forward || mode == Full)
        removed.collect { case f if !f.nullable =>
          s"removed field '${f.name}' is required (an old-schema reader " +
            "cannot read new data without it) [FORWARD]"
        }.toSeq ++ shared.collect {
          case (c, p) if !c.nullable && p.nullable =>
            s"field '${c.name}' loosens required -> nullable (new data may " +
              "carry nulls the old reader rejects) [FORWARD]"
        }
      else Nil
    (typeChanges ++ backward ++ forward).toSeq
  }

  /** Rebuild a registry from [[SchemaRegistry.persist]] output. */
  def load(dir: String): SchemaRegistry = {
    val reg = new SchemaRegistry
    val (fs, root) = fsOf(dir)
    if (!fs.exists(root)) return reg
    def sorted(p: Path) = fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
    for (nameDir <- sorted(root) if nameDir.isDirectory;
         f <- sorted(nameDir.getPath) // seq prefix restores revision order
         if f.getPath.getName.endsWith(".json")) {
      val in = fs.open(f.getPath)
      val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
      reg.register(nameDir.getPath.getName, DataType.fromJson(json).asInstanceOf[StructType])
    }
    reg
  }

  /** `dir` and the Hadoop `FileSystem` of its scheme — the active session's
    * filesystems when there is one — so a registry given as a URI lands
    * there, not under a local path named after the URI. */
  private def fsOf(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())), p)
  }
}

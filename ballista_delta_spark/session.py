"""SparkSession construction + SQL entry point with Delta DDL and DML.

Reference parity: ``custom_session_state`` (reference src/lib.rs:30-42) builds a
session with information_schema, a custom object-store registry, and DELTA /
DELTA_INSERT table factories, and every statement goes through DataFusion's
own parser. In Spark that is configuration plus a thin router, :func:`sql`:

- information_schema      -> ``SHOW TABLES`` / ``spark.catalog`` (built in)
- object store registry   -> Hadoop FS URIs (``file://``) + the pyarrow
  native S3 path (``register_s3_parquet``/``register_delta_s3``; the JVM
  ``s3a://`` route needs a real cluster's hadoop-aws jars — SURVEY §2.1 S6)
- DELTA table factory     -> ``CREATE EXTERNAL TABLE ... STORED AS DELTA
  LOCATION ...`` (the reference's DDL form, reference tests/local.rs:48)
  registers a Delta-backed view.
- DELTA_INSERT and DML    -> DELETE, UPDATE, MERGE and INSERT on such a
  view, and ``VERSION|TIMESTAMP AS OF`` anywhere in a query, are read from
  Spark's own parse tree (``sqlParser().parsePlan``) and run by the Delta
  engine. Regexes recognise only the Delta-only statements Spark's parser
  does not know (OPTIMIZE, VACUUM, RESTORE, DESCRIBE HISTORY, ...).

Scale notes: the session is tuned for local[N] testing but every knob is the
one you would set on a 1000-executor cluster too — AQE (runtime replan, skew
join splitting, partition coalescing), shuffle partitions sized to cores, and
Arrow on the Python boundary.
"""

from __future__ import annotations

import functools
import json
import os
import re

from pyspark.sql import DataFrame, Row, SparkSession

# A table name in a Delta-only statement: `quoted` or dotted identifiers.
_NAME = r"(?P<name>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)"

_DELTA_DDL = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"(?:STORED\s+AS\s+DELTA|USING\s+DELTA)\s+"
    r"(?:PARTITIONED\s+BY\s*\(\s*(?P<pcols>[^)]*?)\s*\)\s+)?"
    r"LOCATION\s+'(?P<loc>[^']+)'"
    # CTAS: CREATE TABLE ... USING DELTA LOCATION '...' AS SELECT ...
    r"(?:\s+AS\s+(?P<body>(?:SELECT|WITH|VALUES|TABLE)\b.*?))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# COPY INTO <name> FROM '<path>' FILEFORMAT = PARQUET|CSV|JSON
#   [FORMAT_OPTIONS ('k' = 'v', ...)] [COPY_OPTIONS ('force' = 'true')]
# — delta-spark's idempotent file-loading SQL.
_DELTA_COPY_INTO = re.compile(
    r"^\s*COPY\s+INTO\s+" + _NAME +
    r"\s+FROM\s+'(?P<src>[^']+)'"
    r"\s+FILEFORMAT\s*=\s*(?P<fmt>PARQUET|CSV|JSON)"
    r"(?:\s+FORMAT_OPTIONS\s*\(\s*(?P<fopts>(?:'[^']*'|[^)'])*?)\s*\))?"
    r"(?:\s+COPY_OPTIONS\s*\(\s*(?P<copts>(?:'[^']*'|[^)'])*?)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_sql_options(raw: str | None) -> dict[str, str]:
    """``'k' = 'v', 'k2' = 'v2'`` option lists (FORMAT_OPTIONS /
    COPY_OPTIONS bodies)."""
    out: dict[str, str] = {}
    for part in filter(None, map(str.strip, _split_top_level(raw or ""))):
        mm = re.match(r"^'([^']+)'\s*=\s*'([^']*)'$", part)
        if not mm:
            raise ValueError(f"cannot parse option {part!r}")
        out[mm.group(1)] = mm.group(2)
    return out

# VACUUM <name> [RETAIN n HOURS] / OPTIMIZE <name> — delta-spark's
# maintenance SQL, routed to the table-maintenance functions.
_DELTA_VACUUM = re.compile(
    r"^\s*VACUUM\s+" + _NAME +
    r"(?:\s+RETAIN\s+(?P<hours>\d+)\s+HOURS?)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE,
)

# SHOW TBLPROPERTIES <name> [('key')] — table configuration as
# (key, value) rows, plus the delta.minReader/WriterVersion protocol rows
# delta-spark always includes.
_DELTA_SHOW_PROPS = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+" + _NAME +
    r"(?:\s*\(\s*'(?P<key>[^']+)'\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DELTA_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+" + _NAME +
    r"(?:\s+(?P<full>FULL))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<zcols>[^)]+)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ALTER TABLE <name> ALTER COLUMN <c> SET DEFAULT <expr> / DROP DEFAULT /
# TYPE <wider> — the allowColumnDefaults writer feature (appends omitting
# the column fill it with the expression) and the typeWidening feature
# (metadata-only lossless retype; narrow files read widened).
_DELTA_COLUMN_DEFAULT = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+ALTER\s+COLUMN\s+(?P<col>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+(?:SET\s+DEFAULT\s+(?P<expr>.+?)|(?P<drop>DROP\s+DEFAULT)"
    r"|TYPE\s+(?P<newtype>.+?))"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ALTER TABLE <name> CLUSTER BY (a, b) / CLUSTER BY NONE — liquid
# clustering metadata; plain OPTIMIZE then clusters on the declared set.
_DELTA_CLUSTER_BY = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+CLUSTER\s+BY\s*(?:\(\s*(?P<cols>[^)]+?)\s*\)|(?P<none>NONE))"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# ALTER TABLE <name> DROP FEATURE <f> [TRUNCATE HISTORY] — protocol
# downgrade once no trace of the feature remains (delta-spark parity).
_DELTA_DROP_FEATURE = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+DROP\s+FEATURE\s+(?P<feature>`[^`]+`|[A-Za-z][A-Za-z0-9]*)"
    r"(?:\s+(?P<trunc>TRUNCATE\s+HISTORY))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# CONVERT TO DELTA parquet.`<path>` / '<path>' — in-place conversion of a
# parquet directory (files referenced, never moved).
_DELTA_CONVERT = re.compile(
    r"^\s*CONVERT\s+TO\s+DELTA\s+"
    r"(?:parquet\s*\.\s*)?(?P<path>`[^`]+`|'[^']+')"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# FSCK REPAIR TABLE <name> [DRY RUN] — drop references to missing files.
_DELTA_FSCK = re.compile(
    r"^\s*FSCK\s+REPAIR\s+TABLE\s+" + _NAME +
    r"(?:\s+(?P<dry>DRY\s+RUN))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# REORG TABLE <name> APPLY (PURGE) — rewrite only DV-carrying files so no
# active file references a deletion vector (delta-spark REORG parity).
# APPLY (COMPACT DELETION VECTORS) is the metadata-only sibling: re-pack
# the active DVs of many point-DML commits into one bin, data untouched.
_DELTA_REORG = re.compile(
    r"^\s*REORG\s+TABLE\s+" + _NAME +
    r"\s+APPLY\s*\(\s*(?P<reorg_op>PURGE|COMPACT\s+DELETION\s+VECTORS)\s*\)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# ANALYZE TABLE <name> COMPUTE DELTA STATISTICS [FOR COLUMNS (c1, c2)] —
# delta-spark's stats recompute (metadata-only, footer reads + one commit).
_DELTA_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+" + _NAME +
    r"\s+COMPUTE\s+DELTA\s+STATISTICS"
    r"(?:\s+FOR\s+COLUMNS\s*\(\s*(?P<cols>[^)]+)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# ALTER TABLE <name> ADD CONSTRAINT <c> CHECK (<expr>) / DROP CONSTRAINT <c>
# — delta-spark constraint DDL, routed to alter_constraints.
_DELTA_ALTER_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+(?P<op>ADD|DROP)\s+CONSTRAINT\s+(?P<cname>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+CHECK\s*\((?P<expr>.+)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ALTER TABLE <name> SET TBLPROPERTIES (k=v, ...) / UNSET TBLPROPERTIES
# (k, ...) — the metadata DDL users run to flip delta.appendOnly /
# enableChangeDataFeed / enableInCommitTimestamps, routed to
# alter_properties.
_DELTA_TBLPROPS = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+(?P<op>SET|UNSET)\s+TBLPROPERTIES\s*\(\s*(?P<body>.+?)\s*\)"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ALTER TABLE <name> RENAME COLUMN <a> TO <b> / DROP COLUMN[S] (a, b) /
# ADD COLUMN[S] (a type, b type) — metadata-only schema evolution, routed
# to alter_columns (rename/drop auto-upgrade the table to
# columnMapping=name, delta-spark parity; pure ADD stays plain).
_DELTA_ALTER_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _NAME +
    r"\s+(?:RENAME\s+COLUMN\s+(?P<old>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+TO\s+(?P<new>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"|DROP\s+COLUMNS?\s*\(?\s*(?P<dropcols>[^)]+?)\s*\)?"
    # nested parens (decimal(10,2)) live inside the add list, so capture
    # everything and strip one outer paren pair in the handler
    r"|ADD\s+COLUMNS?\s+(?P<addcols>.+?))"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# CREATE TABLE <name> SHALLOW|DEEP CLONE <src> LOCATION '<dst>' —
# zero-copy table fork / self-contained snapshot copy (delta-spark clone
# DDL), routed to clone_delta. <src> is a registered delta view name or
# a quoted path.
_DELTA_CLONE = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+"
    r"(?P<name>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+(?P<depth>SHALLOW|DEEP)\s+CLONE\s+"
    r"(?P<src>`[^`]+`|'[^']+'|[A-Za-z_][A-Za-z0-9_.]*)"
    r"\s+LOCATION\s+'(?P<dst>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)

# RESTORE [TABLE] <name> TO VERSION AS OF <n> — delta-spark rollback SQL.
_DELTA_RESTORE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?" + _NAME +
    r"\s+TO\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*;?\s*$",
    re.IGNORECASE,
)

# DESCRIBE HISTORY <name> — commitInfo per version.
_DELTA_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+" + _NAME +
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# DESCRIBE DETAIL <name> — one row of table-level metadata.
_DELTA_DETAIL = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+" + _NAME +
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# GENERATE symlink_format_manifest FOR TABLE <name> — delta-spark's
# Presto/Trino compatibility export.
_DELTA_GENERATE = re.compile(
    r"^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+" + _NAME +
    r"\s*;?\s*$",
    re.IGNORECASE,
)

class _CaseFoldedViews(dict):
    """Routing map keyed like Spark's temp-view catalog: view names are
    case-insensitive, so ``register_parquet(spark, "SALES", ...)`` replaces
    the SAME temp view as a prior ``register_delta(spark, "Sales", ...)``
    and must also displace its DML route — a case-sensitive map would keep
    the stale entry, sending DELETE/UPDATE to the old Delta table while
    SELECT reads the new source."""

    @staticmethod
    def _k(key):
        return key.lower() if isinstance(key, str) else key

    def __init__(self, *args, **kwargs):
        super().__init__()
        if args or kwargs:
            self.update(*args, **kwargs)

    def __setitem__(self, key, value):
        super().__setitem__(self._k(key), value)

    def __getitem__(self, key):
        return super().__getitem__(self._k(key))

    def __contains__(self, key):
        return super().__contains__(self._k(key))

    def get(self, key, default=None):
        return super().get(self._k(key), default)

    def pop(self, key, *args):
        return super().pop(self._k(key), *args)

    # Every mutation path must fold — a future `del views[name]`,
    # `.update(...)`, or `.setdefault(...)` going through dict's raw
    # implementation would reintroduce the exact stale-DML-route bug this
    # class exists to prevent (mixed-case registrations leaving a live
    # route behind).
    def __delitem__(self, key):
        super().__delitem__(self._k(key))

    def setdefault(self, key, default=None):
        return super().setdefault(self._k(key), default)

    def update(self, *args, **kwargs):
        for k, v in dict(*args, **kwargs).items():
            self[k] = v

    def __ior__(self, other):  # views |= {...} must fold too
        self.update(other)
        return self


# Delta-backed view name -> table path, populated by the DDL interceptor and
# register_delta so INSERT INTO can resolve its target (the analogue of the
# reference's DELTA_INSERT table factory, src/lib.rs:140-174).
_delta_views: dict[str, str] = _CaseFoldedViews()


def _ts_to_epoch_ms(raw: str) -> int:
    """SQL timestamp literal -> epoch millis. The one normalization every
    TIMESTAMP AS OF / RESTORE site shares: a zone-less literal is
    wall-clock time in ``spark.sql.session.timeZone``, as Spark reads it,
    and one with an offset or a trailing 'Z' is that instant."""
    from datetime import datetime

    from .sources.delta import _session_zone

    dt = datetime.fromisoformat(
        raw.strip().replace("T", " ").replace("Z", "+00:00")
    )
    if dt.tzinfo is None:
        zone = _session_zone()
        if zone is None:
            raise ValueError(
                f"cannot read {raw!r} in the session time zone; "
                "give the timestamp an offset"
            )
        dt = dt.replace(tzinfo=zone)
    return int(dt.timestamp() * 1000)


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_spark(
    app_name: str = "ballista_delta_spark",
    cpus: int | None = None,
    master: str | None = None,
    conf: dict[str, str] | None = None,
):
    """SparkSession builder with the tuned defaults, master/conf overridable.

    ``master`` is the analogue of the reference's remote entry point
    (``SessionContext::remote_with_state("df://host:50050", ...)``, reference
    examples/local_read_client.rs:31): pass ``spark://host:7077`` /
    ``yarn`` / ``k8s://...`` to target a real cluster, or set
    ``$SPARK_GRAFT_MASTER``. Defaults to ``local[cpus]``. ``conf`` entries
    are applied last so callers can override any default.
    """
    n = cpus or default_cpus()
    chosen = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{n}]"
    builder = (
        SparkSession.builder.master(chosen)
        .appName(app_name)
        # Shuffle sizing: ~cores for local tests. On a real cluster this is
        # sized to total cores (or left to AQE coalescing from a high initial).
        .config("spark.sql.shuffle.partitions", str(n))
        # AQE: runtime re-plan — coalesce small shuffle partitions, convert
        # sort-merge joins to broadcast when a side turns out small, split
        # skewed partitions. All critical at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Over-split shuffles up front and let AQE coalesce DOWN
        # (VERDICT r14 #2): AQE never splits a non-skewed exchange UP, so
        # an initial partition count equal to total cores under-splits the
        # big exchanges at 100 TB and each reduce task sorts/joins GBs and
        # spills (guide §5). On a cluster set $SPARK_GRAFT_INITIAL_PARTS
        # to a large multiple of total cores (rule of thumb: expected
        # shuffle bytes / advisoryPartitionSizeInBytes). The LOCAL default
        # stays = cores: a measured same-window A/B at sf0.1 put the 4x
        # form at 30.6 s vs 26.0 s (probes 0.26/0.21) — +15%, concentrated
        # in the eager-checkpoint dedup ids, because parallelismFirst
        # coalescing keeps ~2x more tiny post-shuffle partitions from a
        # 128-partition start and those ids pay the task overhead ~10
        # stages x 4 builds each. At real byte sizes coalescing is
        # byte-targeted and the overhead vanishes — but defaulting the
        # bench box to it would be a constant tuned for the wrong scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTS", str(n)),
        )
        # Companion to the over-split: CACHED plans execute without AQE
        # partition coalescing unless this is on (SPARK-39172), so the
        # DML-internal transient caches (delta merge/update) would run
        # their shuffles at the full initial width — 128 tiny tasks on a
        # 25-row merge. Allowing AQE to re-partition cached output keeps
        # the over-split+coalesce contract uniform across cached plans.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for every JVM<->Python hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Whole-stage-codegen class cache (default 100 entries): this
        # engine's query surface compiles far more than 100 distinct
        # codegen units (the unrolled 64-dim pair-cosine chains alone are
        # hundreds of KB of generated Java per plan), so a session running
        # many queries thrashes the cache and re-pays janino compilation
        # + a cold JIT on every execution — measured 2-4 s spikes on the
        # expression-heavy similarity queries. 4096 entries bounds the
        # cost at tens of MB of metaspace on driver and executors alike.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Pin session TZ so timestamp semantics match the UTC-naive oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # carries no usable parquet footer stats, which starves Delta
        # per-file minValues/maxValues (and thus scan pruning + ZORDER
        # bounds) for every staged timestamp column.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Python-worker connect-back window (default 15s): on a loaded
        # 32-core box a full pytest run can fork workers slower than that,
        # killing streaming tests with "Timed out while waiting for the
        # Python worker to connect back" — an environment flake, not a
        # logic failure.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # NOTE (r14 measurement): -XX:-DontCompileHugeMethods lets C2
        # compile the giant unrolled-chain codegen methods (emb_knn_graph
        # join stage 2.7 s -> 0.8 s steady-state in isolation) but causes
        # a suite-wide COMPILE STORM in a many-query session — every big
        # generated class becomes C2-eligible and the concurrent compiles
        # regressed the mid-suite TPC-H block up to 13x (bench total
        # 22.9 s -> 35.4 s). Deliberately NOT set.
        # r15: the per-STAGE form of the same fix that the process-global
        # JVM flag could not give us — cap whole-stage codegen methods at
        # the JVM JIT's own huge-method threshold (8000 bytecode bytes,
        # the DontCompileHugeMethods limit). A fused stage whose method
        # exceeds it runs INTERPRETED bytecode forever (the JIT refuses
        # it); with the cap, Spark demotes exactly those stages to
        # non-wholestage execution, whose per-expression generated
        # methods are small and JIT-compile, while every normal stage
        # keeps fused wholestage codegen. Measured at sf1 (tiled 10x
        # fixture, 32 cores): emb_knn_graph 34.5 -> 4.1 s, sim_cosine_topk
        # 5.7 -> 0.7 s (the 64-dim cosine chains are exactly such
        # stages); neutral on dedup_minhash_lsh / emb_pq_topk / TPC-H.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "ballista_delta_spark",
    cpus: int | None = None,
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Mirrors the reference's session wiring (src/lib.rs:18-46) — there it turns
    on DataFusion's full feature set; Spark has its feature set on by default,
    so the work here is configuration only. Note ``getOrCreate`` returns the
    existing session if one is live — master/conf apply to NEW sessions.
    """
    return build_spark(app_name, cpus, master, conf).getOrCreate()



def _strip_leading_comments(stmt: str) -> str:
    """Drop leading `--` line comments and /* */ blocks so a commented
    Delta statement still routes to its interceptor (hint blocks `/*+`
    are left alone — they are meaningful to Spark, and legal hints sit
    after SELECT, not at statement start)."""
    s = stmt
    while True:
        t = s.lstrip()
        if t.startswith("--"):
            nl = t.find("\n")
            if nl == -1:
                return t
            s = t[nl + 1:]
        elif t.startswith("/*") and not t.startswith("/*+"):
            end = t.find("*/")
            if end == -1:
                return t
            s = t[end + 2:]
        else:
            return t


def _mask_literals(stmt: str) -> str:
    """Same-LENGTH copy of ``stmt`` with string-literal contents AND
    comment contents replaced by 'x' (delimiters kept; '' / "" doubling
    AND backslash escapes handled — Spark's default parser accepts
    'O\\'Brien', and skipping the escaped quote is what keeps the mask in
    sync so trailing syntax like WHERE can't be swallowed into a phantom
    literal). Comments follow Spark's lexer too: ``--`` to end-of-line
    and ``/* ... */`` (nesting honored, Spark 3+) are masked so an AND/OR
    or paren inside comment TEXT can never read as predicate structure —
    'k = 1 -- note AND m = 9' filters as k = 1 in Spark, and a scanner
    that split at that AND manufactured a required conjunct. The
    SQL-dialect regexes in this module all scan the mask and slice spans
    from the ORIGINAL string — one Spark-lexer-faithful scanner,
    property-tested (TestMaskLiterals), instead of per-caller copies that
    drift."""
    out: list[str] = []
    i, n = 0, len(stmt)
    while i < n:
        q = stmt[i]
        if q == "-" and i + 1 < n and stmt[i + 1] == "-":
            j = stmt.find("\n", i + 2)
            end = n if j == -1 else j  # newline kept: it ends the comment
            out.append("--" + "x" * (end - i - 2))
            i = end
            continue
        if q == "/" and i + 1 < n and stmt[i + 1] == "*":
            depth, j = 1, i + 2
            while j < n and depth:
                pair = stmt[j:j + 2]
                if pair == "/*":
                    depth += 1
                    j += 2
                elif pair == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            if depth == 0:
                out.append("/*" + "x" * (j - i - 4) + "*/")
            else:  # unterminated: mask to end
                out.append("/*" + "x" * (n - i - 2))
            i = j
            continue
        if q in ("'", '"'):
            j = i + 1
            while j < n:
                if stmt[j] == "\\":  # \' \\ \n ... — skip escaped char
                    j += 2
                    continue
                if stmt[j] == q:
                    if j + 1 < n and stmt[j + 1] == q:  # doubled escape
                        j += 2
                        continue
                    break
                j += 1
            if j < n:
                out.append(q + "x" * (j - i - 1) + q)
                i = j + 1
            else:  # unterminated: mask to end
                out.append(q + "x" * (n - i - 1))
                i = n
        else:
            out.append(q)
            i += 1
    return "".join(out)


def _g(stmt: str, m: "re.Match", name: str) -> str | None:
    """Group text sliced from the ORIGINAL statement by span — groups
    that can contain string literals must come from here, not
    ``m.group`` (which would return the 'xxx' mask)."""
    s, e = m.span(name)
    return None if s == -1 else stmt[s:e]


def sql(spark: SparkSession, statement: str) -> DataFrame:
    """SQL entry point with the reference's Delta DDL surface.

    ``ctx.sql("create external table c stored as delta location '...'")``
    (reference README.md:59, tests/local.rs:48) is handled by a table factory
    there; here we intercept the same statement shape and register a temp view
    backed by our Delta reader, then hand everything else to Spark SQL.

    Matching discipline: DELETE, UPDATE, MERGE, INSERT and
    ``VERSION|TIMESTAMP AS OF`` are read from Spark's own parse tree
    (`_routed`), never from the text: conditions and values are sliced
    from the statement by each expression's parser origin. Regexes handle
    only the Delta-only statements Spark cannot parse (OPTIMIZE, VACUUM,
    RESTORE, DESCRIBE HISTORY/DETAIL, CONVERT, FSCK, REORG, GENERATE, COPY
    INTO, ANALYZE … DELTA STATISTICS, CLONE, CREATE … STORED AS DELTA and
    the ALTER/SHOW TBLPROPERTIES family). They run first, anchored, on the
    literal-MASKED statement (`_mask_literals`), so keywords inside string
    literals or comments never route a statement; groups that may hold
    literals are sliced back out of the original by span (`_g`). Only a
    statement opening with a DML keyword (or with WITH and holding an
    INSERT), or whose masked text holds the keyword OF, pays the parse;
    any other SELECT goes straight to ``spark.sql``.
    """
    statement = _strip_leading_comments(statement)
    masked = _mask_literals(statement)
    m = _DELTA_DDL.match(masked)
    if m:
        from .sources.delta import _strip_file_scheme, read_delta, write_delta

        name, body = m.group("name"), _g(statement, m, "body")
        loc = _strip_file_scheme(_g(statement, m, "loc"))
        exists = os.path.exists(os.path.join(loc, "_delta_log"))
        if body is not None:
            # CTAS: materialize the query into a NEW Delta table. An
            # existing table refuses (IF NOT EXISTS skips the write and
            # just registers — delta-spark semantics).
            if exists and not m.group("ine"):
                raise ValueError(
                    f"CREATE TABLE AS: Delta table already exists at {loc}"
                )
            if not exists:
                pcols = [
                    c.strip().strip("`")
                    for c in (m.group("pcols") or "").split(",")
                    if c.strip()
                ]
                # the body goes through THIS dialect (not raw
                # spark.sql), so time-travel / Delta-view references
                # inside the CTAS SELECT work like any top-level query
                write_delta(
                    sql(spark, body), loc, mode="append",
                    partition_by=pcols or None,
                )
        read_delta(spark, loc).createOrReplaceTempView(name)
        _delta_views[name] = loc
        return spark.sql(f"SELECT '{name}' AS registered_table")

    m = _DELTA_COPY_INTO.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import copy_into

            copts = _parse_sql_options(_g(statement, m, "copts"))
            metrics = copy_into(
                spark, _delta_views[name], _g(statement, m, "src"),
                file_format=m.group("fmt").lower(),
                format_options=_parse_sql_options(_g(statement, m, "fopts")),
                force=str(copts.get("force", "false")).lower() == "true",
            )
            return _committed(spark, name, **metrics)

    m = _DELTA_SHOW_PROPS.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import _load_snapshot

            snap = _load_snapshot(_delta_views[name])
            props = dict(snap.configuration)
            # delta-spark always reports the protocol as properties
            props["delta.minReaderVersion"] = str(snap.min_reader_version)
            props["delta.minWriterVersion"] = str(snap.min_writer_version)
            key = _g(statement, m, "key")
            rows = sorted(props.items()) if key is None else (
                [(key, props[key])] if key in props else []
            )
            return spark.createDataFrame(rows, "key string, value string")

    m = _DELTA_VACUUM.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import vacuum

            hours = m.group("hours")
            kwargs = (
                {"retention_ms": int(hours) * 3600 * 1000}
                if hours is not None else {}
            )
            if m.group("dry"):
                # delta-spark's DRY RUN lists the files that WOULD be
                # deleted (a `path` column), not a deletion count
                would = vacuum(_delta_views[name], dry_run=True, **kwargs)
                return spark.createDataFrame(
                    [(p,) for p in would], "path string"
                )
            removed = vacuum(_delta_views[name], **kwargs)
            return spark.sql(
                f"SELECT CAST({len(removed)} AS BIGINT) AS files_deleted"
            )

    m = _DELTA_OPTIMIZE.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import optimize

            loc = _delta_views[name]
            zcols = [
                c.strip().strip("`")
                for c in (m.group("zcols") or "").split(",") if c.strip()
            ]
            version = optimize(
                spark, loc, zorder_by=zcols or None,
                where=_g(statement, m, "where"),
                full=bool(m.group("full")),
            )
            return _committed(spark, name, committed_version=version)

    m = _DELTA_CLUSTER_BY.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import cluster_by

            loc = _delta_views[name]
            cols = None if m.group("none") else [
                c.strip().strip("`")
                for c in m.group("cols").split(",") if c.strip()
            ]
            version = cluster_by(loc, cols)
            return _committed(spark, name, committed_version=version)

    m = _DELTA_DROP_FEATURE.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import drop_feature

            loc = _delta_views[name]
            version = drop_feature(
                loc,
                m.group("feature").strip("`"),
                truncate_history=bool(m.group("trunc")),
            )
            return _committed(spark, name, committed_version=version)

    m = _DELTA_COLUMN_DEFAULT.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import alter_column_default, alter_column_type

            loc = _delta_views[name]
            if m.group("newtype"):
                version = alter_column_type(
                    loc, m.group("col").strip("`"), m.group("newtype")
                )
            else:
                version = alter_column_default(
                    loc,
                    m.group("col").strip("`"),
                    None if m.group("drop") else _g(statement, m, "expr"),
                )
            return _committed(spark, name, committed_version=version)

    m = _DELTA_CONVERT.match(masked)
    if m:
        from .sources.delta import convert_to_delta

        loc = _g(statement, m, "path").strip("`'")
        version = convert_to_delta(spark, loc)
        return spark.sql(
            f"SELECT CAST({version} AS BIGINT) AS committed_version"
        )

    m = _DELTA_FSCK.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import fsck_repair

            loc = _delta_views[name]
            res = fsck_repair(loc, dry_run=bool(m.group("dry")))
            row = dict(committed_version=res["version"],
                       files_removed=res["numMissingFiles"])
            if m.group("dry"):  # nothing committed: the view stays put
                return spark.createDataFrame([Row(**row)])
            return _committed(spark, name, **row)

    m = _DELTA_ANALYZE.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import recompute_stats

            loc = _delta_views[name]
            cols = m.group("cols")
            res = recompute_stats(
                loc,
                columns=[c.strip().strip("`") for c in cols.split(",")]
                if cols
                else None,
                spark=spark,
            )
            return _committed(
                spark, name, committed_version=res["version"],
                files_recomputed=res["numFilesRecomputed"],
            )

    m = _DELTA_REORG.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import compact_deletion_vectors, reorg_purge

            loc = _delta_views[name]
            if m.group("reorg_op").upper() == "PURGE":
                metrics = reorg_purge(spark, loc)
                rewritten = metrics["numFilesRewritten"]
            else:
                metrics = compact_deletion_vectors(loc)
                rewritten = metrics["numFilesRepointed"]
            return _committed(
                spark, name, committed_version=metrics["version"],
                files_rewritten=rewritten,
            )

    m = _DELTA_TBLPROPS.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import alter_properties

            loc = _delta_views[name]
            body = _g(statement, m, "body")
            if m.group("op").upper() == "SET":
                props = {}
                for part in _split_top_level(body):
                    k, eq, v = part.partition("=")
                    if not eq:
                        raise ValueError(
                            f"SET TBLPROPERTIES expects k = v, got {part!r}"
                        )
                    props[k.strip().strip("'\"`")] = v.strip().strip("'\"")
                version = alter_properties(spark, loc, set_props=props)
            else:
                keys = [
                    p.strip().strip("'\"`")
                    for p in _split_top_level(body) if p.strip()
                ]
                version = alter_properties(spark, loc, unset_keys=keys)
            return _committed(spark, name, committed_version=version)

    m = _DELTA_ALTER_CONSTRAINT.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import alter_constraints

            loc = _delta_views[name]
            if m.group("op").upper() == "ADD":
                if not m.group("expr"):
                    raise ValueError(
                        "ADD CONSTRAINT requires CHECK (<expression>)"
                    )
                version = alter_constraints(
                    spark, loc,
                    add={m.group("cname"): _g(statement, m, "expr").strip()},
                )
            else:
                version = alter_constraints(
                    spark, loc, drop=[m.group("cname")]
                )
            return _committed(spark, name, committed_version=version)

    m = _DELTA_CLONE.match(masked)
    if m:
        from .sources.delta import clone_delta

        raw_src = _g(statement, m, "src")
        if raw_src.startswith("'"):
            src_loc = raw_src.strip("'")
        else:
            src_name = _resolve_view(raw_src, spark)
            if src_name is None:
                raise ValueError(
                    f"CLONE source {raw_src!r} is not a registered "
                    "Delta table (use a quoted path or register it first)"
                )
            src_loc = _delta_views[src_name]
        dst = _g(statement, m, "dst")
        clone_delta(src_loc, dst, deep=m.group("depth").upper() == "DEEP")
        name = m.group("name").strip("`")
        _delta_views[name] = dst
        return _committed(spark, name, committed_version=0)

    m = _DELTA_ALTER_COLUMN.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import alter_columns

            loc = _delta_views[name]
            if m.group("old"):
                version = alter_columns(
                    loc,
                    renames={
                        m.group("old").strip("`"): m.group("new").strip("`")
                    },
                )
            elif m.group("dropcols"):
                version = alter_columns(
                    loc,
                    drops=[
                        c.strip().strip("`")
                        for c in m.group("dropcols").split(",") if c.strip()
                    ],
                )
            else:
                adds: dict[str, str] = {}
                addcols = _g(statement, m, "addcols").strip()
                if addcols.startswith("(") and addcols.endswith(")"):
                    addcols = addcols[1:-1]
                # decimal(10,2) and map<string,int> survive the split
                for spec in filter(str.strip, _split_top_level(addcols)):
                    parts = spec.strip().split(None, 1)
                    if len(parts) != 2:
                        raise ValueError(
                            f"ADD COLUMNS expects '<name> <type>': {spec!r}"
                        )
                    adds[parts[0].strip("`")] = parts[1]
                version = alter_columns(loc, adds=adds)
            return _committed(spark, name, committed_version=version)

    m = _DELTA_RESTORE.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import restore_delta

            loc = _delta_views[name]
            if m.group("v") is not None:
                target = int(m.group("v"))
            else:
                from .sources.delta import version_at_timestamp

                target = version_at_timestamp(
                    loc, _ts_to_epoch_ms(_g(statement, m, "ts"))
                )
            return _committed(spark, name, **restore_delta(loc, target))

    m = _DELTA_DETAIL.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import describe_detail

            return describe_detail(spark, _delta_views[name])

    m = _DELTA_GENERATE.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import generate_symlink_manifest

            written = generate_symlink_manifest(_delta_views[name])
            return spark.createDataFrame(
                [(p,) for p in written], "manifest string"
            )

    m = _DELTA_HISTORY.match(masked)
    if m:
        name = _resolve_view(m.group("name"), spark)
        if name is not None:
            from .sources.delta import DeltaTable

            hist = DeltaTable(_delta_views[name]).history()
            rows = [
                (
                    h["version"],
                    h.get("timestamp"),
                    h.get("operation"),
                    json.dumps(h.get("operationParameters") or {}),
                    json.dumps(h.get("operationMetrics") or {}),
                )
                for h in hist
            ]
            return spark.createDataFrame(
                rows,
                "version bigint, timestamp bigint, operation string, "
                "operationParameters string, operationMetrics string",
            )
    time_travel = _OF.search(masked) is not None
    if time_travel or _PARSED_FIRST.match(masked):
        return _routed(spark, statement, time_travel)
    return spark.sql(statement)


def _resolve_view(raw: str, spark: SparkSession | None = None) -> str | None:
    """Map the statement's table name to a registered Delta view: exact match
    first, then the last dotted component (``db.t`` / `` `t` `` -> ``t``).

    The tail fallback yields to a REAL catalog table of the full
    qualified name: without that check, ``DELETE FROM sales.orders``
    would run against an unrelated registered view named ``orders`` —
    silent DML on the wrong table."""
    name = raw.strip().strip("`")
    if name in _delta_views:
        return name
    tail = name.split(".")[-1]
    if tail not in _delta_views:
        return None
    if "." in name and spark is not None:
        try:
            if spark.catalog.tableExists(name):
                return None  # the qualified catalog table wins
        except Exception:
            # Fail CLOSED: if the catalog can't answer (misconfigured
            # metastore, transient failure) we cannot prove the dotted
            # name doesn't shadow the tail view — routing the DML to the
            # tail view here is exactly the wrong-table write this guard
            # exists to prevent.
            return None
    return tail


# The statements the router hands to Spark's parser: those whose first
# keyword is a DML verb (or WITH, when the statement holds an INSERT it
# may head), and those whose literal-masked text holds the keyword OF,
# which every time-travel clause has. Every other statement goes to
# spark.sql with no extra parse.
_PARSED_FIRST = re.compile(
    r"\s*(?:DELETE|UPDATE|MERGE|INSERT|WITH\b.*\bINSERT)\b", re.I | re.S
)
_OF = re.compile(r"\bOF\b", re.IGNORECASE)


def _parse_plan(spark: SparkSession, statement: str):
    """The session parser's unresolved Java ``LogicalPlan``; text it cannot
    parse raises ``ParseException``, as ``spark.sql`` would."""
    return spark._jsparkSession.sessionState().sqlParser().parsePlan(statement)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _parts(jseq) -> list[str]:
    """A Scala ``Seq[String]`` (name parts, a column list) in one call."""
    joined = jseq.mkString("\x00")
    return joined.split("\x00") if joined else []


def _quoted(parts: list[str]) -> str:
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _is_bool_literal(expr) -> bool:
    return expr.nodeName() == "Literal" and expr.dataType().typeName() == "boolean"


def _span(node) -> tuple[int, int]:
    """``node``'s ``[start, end)`` in the parsed text (its parser origin)."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


class _Spliced:
    """The parsed statement plus span replacements (a pinned snapshot view
    for a time-travel reference, a requalified column); every slice taken
    from it carries the replacements that fall inside the slice."""

    def __init__(self, statement: str):
        self.statement = statement
        self.subs: list[tuple[int, int, str]] = []

    @functools.cached_property
    def masked(self) -> str:
        return _mask_literals(self.statement)

    def slice(self, start: int, end: int) -> str:
        out, at = [], start
        for s, e, rep in sorted(self.subs):
            if start <= s and e <= end:
                out += [self.statement[at:s], rep]
                at = e
        out.append(self.statement[at:end])
        return "".join(out)

    def of(self, expr) -> str:
        """An expression's text as written. Two kinds of node carry no
        origin of their own: EXISTS keeps its enclosing rule's, and the
        parser hands out one shared TRUE and one shared FALSE literal whose
        origin is wherever they were first built."""
        if expr.nodeName() == "Exists":
            return "EXISTS (" + self.slice(*_span(expr.plan())) + ")"
        if _is_bool_literal(expr):
            return expr.sql()
        return self.slice(*self._extent(expr))

    def _extent(self, expr) -> tuple[int, int]:
        """``expr``'s ``[start, end)``. A predicate (IN, LIKE, BETWEEN, IS
        NULL, ...) has the origin of the rule after its left operand, so a
        node starts no later than its first child. A parenthesized operand
        has the origin of what is inside the parentheses, so the start
        then moves back over each '(' the slice leaves unmatched."""
        start, end = _span(expr)
        kids = _seq(expr.children())
        if kids and not _is_bool_literal(kids[0]):
            first = self._extent(kids[0])[0]
            if first < start:
                start = first
                body = self.masked[start:end]
                for _ in range(body.count(")") - body.count("(")):
                    start = self.masked.rindex("(", 0, start)
        return start, end

    def requalify(self, exprs, prefixes: dict[str, str]) -> None:
        """Replace every column reference in ``exprs`` whose qualifier is a
        key of ``prefixes`` (lower-cased: SQL names are case-insensitive)
        by the mapped prefix and the rest of its name ('' drops the
        qualifier). One-part names are columns, never qualifiers."""
        for expr in exprs:
            for leaf in _seq(expr.collectLeaves()):
                if leaf.nodeName() != "UnresolvedAttribute":
                    continue
                parts = _parts(leaf.nameParts())
                new = prefixes.get(parts[0].lower())
                if len(parts) > 1 and new is not None:
                    self.subs.append((*_span(leaf), new + _quoted(parts[1:])))


def _relation(node) -> tuple[list[str], str] | None:
    """A DML target or MERGE source: (name parts, qualifier), where the
    qualifier is its alias, else the last part of its name. None when
    ``node`` is not a plain (optionally aliased) table name."""
    alias = None
    if node.nodeName() == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    if node.nodeName() != "UnresolvedRelation":
        return None
    parts = _parts(node.multipartIdentifier())
    return parts, alias or parts[-1]


# Commands that keep their query in a field outside the tree's children.
_WRAPPED_QUERY = {"ExplainCommand": "logicalPlan", "DescribeQueryCommand": "plan"}


def _as_of_ms(ts) -> int:
    """Epoch millis of a TIMESTAMP AS OF literal: a string, or a typed
    ``TIMESTAMP '…'`` (which the parser already read in the session time
    zone) or ``TIMESTAMP_NTZ '…'`` (wall-clock time, read here in it)."""
    kind = ts.dataType().typeName() if ts.nodeName() == "Literal" else None
    if kind == "string":
        return _ts_to_epoch_ms(ts.value().toString())
    if kind == "timestamp":
        return ts.value() // 1000
    if kind == "timestamp_ntz":
        from datetime import datetime, timedelta

        wall = datetime(1970, 1, 1) + timedelta(microseconds=ts.value())
        return _ts_to_epoch_ms(wall.isoformat())
    raise ValueError(f"TIMESTAMP AS OF takes a timestamp literal, got {ts}")


def _pin_time_travel(spark: SparkSession, plan, text: _Spliced) -> None:
    """Point every ``<view> VERSION|TIMESTAMP AS OF x`` on a registered
    Delta view, anywhere in ``plan`` (CTE bodies and subqueries too), at a
    temp view pinned to that snapshot; anything else is left for Spark."""
    from .sources.delta import read_delta

    stack = [plan]
    while stack:
        node = stack.pop()
        stack += _seq(node.children()) + _seq(node.innerChildren())
        kind = node.nodeName()
        if kind in _WRAPPED_QUERY:
            stack.append(getattr(node, _WRAPPED_QUERY[kind])())
        if kind != "RelationTimeTravel":
            continue
        rel = node.relation()
        target = _relation(rel)
        name = target and _resolve_view(".".join(target[0]), spark)
        if name is None:
            continue
        loc = _delta_views[name]
        if node.version().isDefined():
            version = int(node.version().get())
            snap_name = f"{name}__asof_v{version}"
            df = read_delta(spark, loc, version=version)
        else:
            ts_ms = _as_of_ms(node.timestamp().get())
            snap_name = f"{name}__asof_t{ts_ms}"
            df = read_delta(spark, loc, timestamp_ms=ts_ms)
        df.createOrReplaceTempView(snap_name)
        text.subs.append((_span(rel)[0], _span(node)[1], snap_name))


def _routed(spark: SparkSession, statement: str, time_travel: bool):
    """Run ``statement`` from Spark's parse tree: DML on a registered
    Delta view goes to its ``_ROUTES`` entry, anything else (time travel
    pinned when ``time_travel``) to ``spark.sql``."""
    if "${" in statement:  # origins index the text after substitution
        sub = spark._jvm.org.apache.spark.sql.internal.VariableSubstitution()
        statement = sub.substitute(statement)
    plan = _parse_plan(spark, statement)
    text = _Spliced(statement)
    if time_travel:
        _pin_time_travel(spark, plan, text)
    cte = ""
    if plan.nodeName() == "UnresolvedWith" and plan.child().nodeName() in (
        "InsertIntoStatement", "OverwriteByExpression"
    ):
        cte = text.slice(_span(plan)[0], _span(plan.child())[0])
        plan = plan.child()
    route = _ROUTES.get(plan.nodeName())
    if route is not None:
        target = _relation(
            plan.targetTable() if route is _merge else plan.table()
        )
        name = target and _resolve_view(".".join(target[0]), spark)
        if name is not None:
            return route(spark, name, target[1], plan, text, cte)
    return spark.sql(text.slice(0, len(statement)))


def _committed(spark: SparkSession, name: str, **row) -> DataFrame:
    """Point view ``name`` at its table's new snapshot; ``row`` (the
    operation's metrics, or its committed version) as a one-row frame.
    An all-integer row is a SELECT of BIGINT literals: 4-5 ms on a 4-core
    host, where ``createDataFrame`` of one Row takes 12-19 ms."""
    from .sources.delta import read_delta

    read_delta(spark, _delta_views[name]).createOrReplaceTempView(name)
    if all(type(v) is int for v in row.values()):
        return spark.sql("SELECT " + ", ".join(
            f"CAST({v} AS BIGINT) AS `{k}`" for k, v in row.items()
        ))
    return spark.createDataFrame([Row(**row)])


def _column(attr, qualifier: str) -> str:
    """An assignment target's column name, its qualifier dropped."""
    parts = _parts(attr.nameParts())
    if len(parts) > 1 and parts[0].lower() == qualifier.lower():
        parts = parts[1:]
    return ".".join(parts)


def _delete(spark, name, qualifier, plan, text, _cte) -> DataFrame:
    from .sources.delta_dml import delete_delta

    cond = plan.condition()  # the literal TRUE without a WHERE
    text.requalify([cond], {qualifier.lower(): ""})
    return _committed(
        spark, name, **delete_delta(spark, _delta_views[name], text.of(cond))
    )


def _update_args(qualifier: str, plan, text: _Spliced):
    """UPDATE's (condition, {column: value}) text, columns unqualified."""
    assigns = _seq(plan.assignments())
    cond = plan.condition()
    cond = cond.get() if cond.isDefined() else None
    exprs = [a.value() for a in assigns] + ([cond] if cond else [])
    text.requalify(exprs, {qualifier.lower(): ""})
    sets = {_column(a.key(), qualifier): text.of(a.value()) for a in assigns}
    return ("true" if cond is None else text.of(cond)), sets


def _update(spark, name, qualifier, plan, text, _cte) -> DataFrame:
    from .sources.delta_dml import update_delta

    cond, sets = _update_args(qualifier, plan, text)
    return _committed(
        spark, name, **update_delta(spark, _delta_views[name], cond, sets)
    )


def _merge(spark, name, talias, plan, text, _cte) -> DataFrame:
    """MERGE INTO onto merge_delta, clauses in statement order. The target
    and source qualifiers become merge_delta's fixed ``t`` and ``s`` (an
    alias-less table's name is its qualifier)."""
    from .sources.delta_dml import merge_delta

    src = _relation(plan.sourceTable())
    if src is not None:
        source, salias = spark.table(_quoted(src[0])), src[1]
    else:  # a subquery, its alias (if any) on a SubqueryAlias above it
        node, salias = plan.sourceTable(), None
        if node.nodeName() == "SubqueryAlias":
            node, salias = node.child(), node.alias()
        source = spark.sql(text.slice(*_span(node)))
    lists = [_seq(getattr(plan, f)()) for f in (
        "matchedActions", "notMatchedActions", "notMatchedBySourceActions"
    )]
    exprs = [plan.mergeCondition()]
    for action in (a for lst in lists for a in lst):
        if action.condition().isDefined():
            exprs.append(action.condition().get())
        if action.nodeName() in ("UpdateAction", "InsertAction"):
            exprs += [x.value() for x in _seq(action.assignments())]
    prefixes = {talias.lower(): "t."}
    if salias:
        prefixes[salias.lower()] = "s."
    text.requalify(exprs, prefixes)

    def clause(action):
        kind = action.nodeName()
        cond = action.condition()
        cond = text.of(cond.get()) if cond.isDefined() else None
        if kind == "DeleteAction":
            return cond, "delete", None
        if kind == "UpdateStarAction":
            # UPDATE SET * (delta-spark): every SOURCE column to the
            # same-named target column.
            return cond, "update", {
                c: "s." + _quoted([c]) for c in source.columns
            }
        if kind == "InsertStarAction":
            return cond, True
        sets = {
            _column(x.key(), talias): text.of(x.value())
            for x in _seq(action.assignments())
        }
        if kind == "UpdateAction":
            return cond, "update", sets
        if kind == "InsertAction":
            return cond, sets
        raise ValueError(f"unsupported MERGE clause: {kind}")

    matched, not_matched, by_source = (
        [clause(a) for a in lst] for lst in lists
    )
    return _committed(spark, name, **merge_delta(
        spark, _delta_views[name], source, text.of(plan.mergeCondition()),
        matched_clauses=matched,
        not_matched_clauses=not_matched,
        not_matched_by_source_clauses=by_source,
        schema_evolution=plan.withSchemaEvolution(),
    ))


def _insert(spark, name, _qualifier, plan, text, cte) -> DataFrame:
    """INSERT INTO / OVERWRITE [(cols)] and INSERT INTO … REPLACE WHERE.
    The query is everything after the INSERT head's span, behind the
    statement's CTEs when it has them."""
    replace_where, overwrite, cols = None, False, None
    if plan.nodeName() == "OverwriteByExpression":
        replace_where = text.of(plan.deleteExpr())
    else:
        for clause, present in (
            ("PARTITION (…)", not plan.partitionSpec().isEmpty()),
            ("BY NAME", plan.byName()),
        ):
            if present:
                raise ValueError(
                    f"INSERT … {clause} is unsupported on Delta view {name}"
                )
        overwrite = plan.overwrite()
        cols = _parts(plan.userSpecifiedCols()) or None
    body = cte + text.slice(_span(plan)[1], len(text.statement))
    return _delta_insert(spark, name, cols, body, overwrite, replace_where)


_ROUTES = {
    "DeleteFromTable": _delete,
    "UpdateTable": _update,
    "MergeIntoTable": _merge,
    "InsertIntoStatement": _insert,
    "OverwriteByExpression": _insert,
}


def _delta_insert(
    spark: SparkSession, name: str, cols: list[str] | None, body: str,
    overwrite: bool = False,
    replace_where: str | None = None,
) -> DataFrame:
    """Append (or, for INSERT OVERWRITE, replace) rows of the Delta table
    behind view ``name`` with ``body``'s result.

    - No column list: body must produce exactly the table's column count;
      aligned positionally (names from the body are ignored), cast to the
      declared types — Spark/delta-spark INSERT INTO semantics.
    - Column list: body must produce exactly ``len(cols)`` columns; listed
      columns map positionally, unlisted columns are filled with NULL.
    - OVERWRITE replaces the full table contents in one commit (remove all
      + add new — the delta-spark static-overwrite mode).
    """
    from pyspark.sql import functions as F

    from .sources.delta import _load_snapshot, write_delta

    loc = _delta_views[name]
    # Spark SQL accepts top-level VALUES as an inline-table query, so every
    # body shape (SELECT / VALUES / WITH / TABLE) runs as-is; its
    # time-travel references are already pinned.
    rows = spark.sql(body.strip())
    # The SNAPSHOT schema keeps the field metadata (identity / generated /
    # CURRENT_DEFAULT) the scan's aliasing may drop.
    fields = _load_snapshot(loc).schema.fields
    # Positional mapping is the contract: rename the query's output to
    # placeholder names first, so duplicate output names (SELECT a.id,
    # b.id) stay addressable by position instead of raising AMBIGUOUS.
    rows = rows.toDF(*[f"__ins_c{i}" for i in range(len(rows.columns))])

    def _auto_filled(f) -> bool:
        # Columns write_delta fills ITSELF when the input omits them —
        # NULL-filling these would bypass the default / identity /
        # generation (or trip the GENERATED ALWAYS guard), so the INSERT
        # must OMIT them instead (SQL INSERT column-list semantics).
        md = f.metadata or {}
        return bool(
            md.get("delta.generationExpression")
            or md.get("CURRENT_DEFAULT") is not None
            or any(k.startswith("delta.identity.") for k in md)
        )

    if cols is not None:
        by_lower = {f.name.lower(): f for f in fields}
        unknown = [c for c in cols if c.lower() not in by_lower]
        if unknown:
            raise ValueError(
                f"INSERT column(s) {unknown} not in table {name} "
                f"({[f.name for f in fields]})"
            )
        if len(rows.columns) != len(cols):
            raise ValueError(
                f"INSERT INTO {name} ({len(cols)} columns) but the query "
                f"produced {len(rows.columns)} columns"
            )
        src = {
            by_lower[c.lower()].name: F.col(f"__ins_c{i}")
            for i, c in enumerate(cols)
        }
        sel = []
        for f in fields:
            if f.name in src:
                sel.append(src[f.name].cast(f.dataType).alias(f.name))
            elif not _auto_filled(f):
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
        out = rows.select(*sel)
    else:
        if len(rows.columns) != len(fields):
            raise ValueError(
                f"INSERT INTO {name}: table has {len(fields)} columns but the "
                f"query produced {len(rows.columns)}"
            )
        out = rows.select(*[
            F.col(f"__ins_c{i}").cast(f.dataType).alias(f.name)
            for i, f in enumerate(fields)
        ])
    if replace_where is not None:
        from .sources.delta_dml import replace_where_delta

        version = replace_where_delta(
            spark, loc, out, replace_where.strip()
        )["version"]
    else:
        version = write_delta(
            out, loc, mode="overwrite" if overwrite else "append"
        )
    # The reference errors here ("Can't encode non-delta tables",
    # tests/local.rs:100-103); we commit.
    return _committed(spark, name, committed_version=version)


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parens, brackets, angle brackets (generic
    types: map<string,int>) and string literals. Backslash escapes inside
    literals ('O\\'Brien') are skipped, matching _mask_literals — treating
    the escaped quote as a terminator would leak the rest of the literal
    to top level and mis-split."""
    parts, depth, in_str, esc, cur = [], 0, None, False, []
    for ch in s:
        if in_str:
            cur.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur))
    return parts

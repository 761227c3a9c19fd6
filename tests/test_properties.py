"""Property-based tests (hypothesis) for the pure-Python primitives.

These target the hand-rolled parsers and graph algorithms where example
tests miss edge shapes: SQL clause splitting, delta-rs URL decode, and
connected-components label propagation (checked against a union-find
reference implementation).
"""

from __future__ import annotations

import os

from hypothesis import given, settings, strategies as st

from ballista_delta_spark.session import _split_top_level

# Expression fragments that stress the splitter: nested calls, string
# literals containing commas/parens, brackets.
_FRAGMENTS = st.sampled_from([
    "a", "col1", "f(x, y)", "round(v + 0.5, 2)", "'lit,eral'",
    "'par(en'", "arr[1]", "map('k,1', 2)", "g(h(i, j), k)", "x + y",
    '"dq,uote"', "CASE WHEN a THEN 1 ELSE 2 END",
])


class TestSplitTopLevel:
    @given(st.lists(_FRAGMENTS, min_size=1, max_size=6))
    @settings(max_examples=200, deadline=None)
    def test_join_then_split_roundtrips(self, parts):
        joined = ",".join(parts)
        assert _split_top_level(joined) == parts

    # UPDATE's SET map comes from Spark's parse tree, each value sliced
    # from the statement by its origin: the same fragments, parsed only.
    @given(st.lists(_FRAGMENTS, min_size=1, max_size=4))
    @settings(max_examples=100, deadline=None)
    def test_set_clause_parse_roundtrips(self, spark, exprs):
        from ballista_delta_spark.session import (
            _parse_plan,
            _Spliced,
            _update_args,
        )

        cols = [f"c{i}" for i in range(len(exprs))]
        stmt = "UPDATE t SET " + ", ".join(
            f"{c} = {e}" for c, e in zip(cols, exprs)
        )
        cond, sets = _update_args("t", _parse_plan(spark, stmt), _Spliced(stmt))
        assert sets == dict(zip(cols, exprs)) and cond == "true"


class TestMangledPathDecode:
    @given(
        st.lists(
            st.from_regex(r"[a-z]{1,6}(-[a-z]{1,4}){0,2}", fullmatch=True),
            min_size=1, max_size=4,
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_existing_paths_are_recovered(self, comps):
        """Any on-disk path (components may contain hyphens) must decode
        from its lossy mangled form when the directory actually exists."""
        import tempfile

        from ballista_delta_spark.sources.registry import resolve_url

        base = tempfile.mkdtemp(prefix="bds-prop-")
        real = os.path.join(base, *comps, "_delta_log")
        os.makedirs(real, exist_ok=True)
        table = os.path.dirname(real)
        mangled = "delta-rs://file-" + table.lstrip("/").replace("/", "-")
        assert resolve_url(mangled) == table

    @given(
        st.lists(
            st.from_regex(r"[a-z]{1,6}(-[a-z]{1,4}){0,2}", fullmatch=True),
            min_size=2, max_size=4,
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_s3_probe_decode_recovers_layout(self, comps):
        from ballista_delta_spark.sources.registry import _decode_mangled_s3

        real_key = "/".join(comps)
        universe = {real_key, real_key + "/_delta_log"}

        def probe(prefix):
            return any(u.startswith(prefix) for u in universe)

        mangled = real_key.replace("/", "-")
        assert _decode_mangled_s3(mangled, probe) == real_key


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Canonical label = min node id in the component.
    labels = {}
    for v in range(n_nodes):
        r = find(v)
        labels.setdefault(r, min(v, labels.get(r, v)))
    return {v: labels[find(v)] for v in range(n_nodes)}


class TestLabelPropagationMatchesUnionFind:
    @given(
        st.integers(min_value=2, max_value=10).flatmap(
            lambda n: st.tuples(
                st.just(n),
                st.lists(
                    st.tuples(
                        st.integers(0, n - 1), st.integers(0, n - 1)
                    ).filter(lambda e: e[0] != e[1]),
                    min_size=1, max_size=12,
                ),
            )
        )
    )
    @settings(max_examples=10, deadline=None)
    def test_random_graphs(self, spark, case):
        from ballista_delta_spark.queries.dedup import label_propagate_min

        n, edges = case
        sym = spark.createDataFrame(
            [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
            "src bigint, dst bigint",
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in label_propagate_min(sym, max_iters=30).collect()
        }
        expected = _union_find_components(n, edges)
        touched = {v for e in edges for v in e}
        assert got == {v: expected[v] for v in touched}


class TestDeletionVectorRoundtrip:
    """The production roaring parser against the test-side serializer:
    random 64-bit index sets (clustered AND sparse, spanning multiple
    32-bit chunks and 16-bit containers) must round-trip exactly. The
    serializer picks array vs bitmap containers from cardinality, so
    large clustered draws exercise the bitmap path too."""

    @given(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 40) - 1),
            min_size=1, max_size=300, unique=True,
        ),
        st.booleans(),
    )
    @settings(max_examples=150, deadline=None)
    def test_random_index_sets_roundtrip(self, idx, clustered):
        from ballista_delta_spark.sources.dv import (
            parse_roaring_bitmap_array,
        )
        from tests.test_deletion_vectors import _serialize_dv

        if clustered:
            # dense run inside one container plus the random tail —
            # stresses container-boundary arithmetic
            base = idx[0] & ~0xFFFF
            idx = sorted(set(idx) | {base + k for k in range(200)})
        expected = sorted(set(idx))
        assert parse_roaring_bitmap_array(_serialize_dv(expected)) == expected

    @given(st.integers(min_value=4097, max_value=6000))
    @settings(max_examples=5, deadline=None)
    def test_bitmap_container_threshold(self, n):
        """>4096 values in one 16-bit chunk forces a bitmap container."""
        from ballista_delta_spark.sources.dv import (
            parse_roaring_bitmap_array,
        )
        from tests.test_deletion_vectors import _serialize_dv

        vals = list(range(n))
        assert parse_roaring_bitmap_array(_serialize_dv(vals)) == vals


# ----------------------------------------------- streaming offset walk
# The (version, index) offset arithmetic of the Delta streaming source:
# for ANY commit-size profile and ANY rate-limit combination, repeatedly
# planning micro-batches must emit every file exactly once, in log
# order, within the per-batch budgets, and terminate.
class TestStreamOffsetWalk:
    @staticmethod
    def _reader(file_counts, max_files, max_versions):
        from pyspark.sql.datasource import InputPartition  # noqa: F401

        from ballista_delta_spark.sources.delta_stream import (
            DeltaFilePartition,
            DeltaStreamReader,
        )

        r = DeltaStreamReader.__new__(DeltaStreamReader)
        r.starting_version = 0
        r.max_files_per_trigger = max_files
        r.max_versions_per_trigger = max_versions
        r.max_bytes_per_trigger = None
        r.read_change_feed = False
        r._planned = None
        r._snap_version = None  # replay mode: no initial-snapshot phase
        r._snap_plans = {}
        r._plans = {
            v: [
                DeltaFilePartition(v, f"f-{v}-{i}.parquet")
                for i in range(n)
            ]
            for v, n in enumerate(file_counts)
        }
        r._latest_version = lambda: len(file_counts) - 1
        return r

    @given(
        st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=6),
        st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
    )
    @settings(max_examples=300, deadline=None)
    def test_walk_emits_every_file_once_within_budgets(
        self, file_counts, max_files, max_versions
    ):
        r = self._reader(file_counts, max_files, max_versions)
        off = r.initialOffset()
        seen: list[str] = []
        for _ in range(200):
            end = r.latestOffset()
            parts = r.partitions(off, end)
            if max_files is not None:
                assert len(parts) <= max_files
            if max_versions is not None:
                assert len({p.version for p in parts}) <= max_versions
            seen.extend(p.rel_path for p in parts)
            if end == off:
                break
            off = end
        else:
            raise AssertionError("offset walk did not terminate")
        expected = [
            f"f-{v}-{i}.parquet"
            for v, n in enumerate(file_counts)
            for i in range(n)
        ]
        assert seen == expected  # every file once, in log order

    @given(
        st.integers(min_value=0, max_value=6),
        st.lists(st.integers(min_value=0, max_value=4), min_size=0,
                 max_size=4),
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
        st.one_of(st.none(), st.integers(min_value=1, max_value=2)),
    )
    @settings(max_examples=200, deadline=None)
    def test_snapshot_phase_walk_emits_every_file_once(
        self, snap_files, tail_counts, max_files, max_versions
    ):
        """Initial-snapshot mode: the snapshot's files drain first (under
        the file budget, counting as ONE version), then the tail commits —
        every file exactly once, in order, terminating."""
        from ballista_delta_spark.sources.delta_stream import (
            DeltaFilePartition,
        )

        r = self._reader(
            [0] + tail_counts, max_files, max_versions
        )
        r.starting_version = 1
        r._snap_version = 0
        r._snap_plans = {
            0: [
                DeltaFilePartition(0, f"snap-{i}.parquet")
                for i in range(snap_files)
            ]
        }
        del r._plans[0]  # version 0 is the snapshot, not a tail commit
        off = r.initialOffset()
        assert off == {"version": 0, "index": 0, "snapshot": True}
        seen: list[str] = []
        for _ in range(200):
            end = r.latestOffset()
            parts = r.partitions(off, end)
            if max_files is not None:
                assert len(parts) <= max_files
            seen.extend(p.rel_path for p in parts)
            if end == off:
                break
            off = end
        else:
            raise AssertionError("offset walk did not terminate")
        expected = [f"snap-{i}.parquet" for i in range(snap_files)] + [
            f"f-{v}-{i}.parquet"
            for v, n in enumerate([0] + tail_counts)
            for i in range(n)
            if v >= 1
        ]
        assert seen == expected

    @given(
        st.lists(st.integers(min_value=0, max_value=4), min_size=1,
                 max_size=5),
        st.integers(min_value=1, max_value=3),
    )
    @settings(max_examples=100, deadline=None)
    def test_legacy_offsets_resume_anywhere(self, file_counts, boundary):
        """A legacy {"version": v} checkpoint offset must resume exactly
        after commit v, whatever the rate limit."""
        r = self._reader(file_counts, None, None)
        b = min(boundary, len(file_counts)) - 1
        end = r.latestOffset()
        parts = r.partitions({"version": b}, end)
        expected = [
            f"f-{v}-{i}.parquet"
            for v, n in enumerate(file_counts)
            for i in range(n)
            if v > b
        ]
        assert [p.rel_path for p in parts] == expected


# ------------------------------------------------ stats truncation
class TestStatsStringTruncation:
    """Soundness invariants of the Delta string-bound truncation: the
    truncated min never exceeds the original min, the truncated max
    never undercuts the original max, and bounds stay within the prefix
    budget (+1 for the bump) — for ANY unicode content."""

    @given(
        st.text(min_size=0, max_size=80),
        st.text(min_size=0, max_size=80),
    )
    @settings(max_examples=300, deadline=None)
    def test_truncated_bounds_still_cover_originals(self, a, b):
        from ballista_delta_spark.sources.delta import (
            _STATS_STRING_PREFIX,
            _trunc_stat_strings,
        )

        mn, mx = min(a, b), max(a, b)
        mins, maxs = {"c": mn}, {"c": mx}
        _trunc_stat_strings(mins, maxs)
        if "c" in mins:
            assert mins["c"] <= mn
            assert len(mins["c"]) <= _STATS_STRING_PREFIX
        if "c" in maxs:
            assert maxs["c"] >= mx
            assert len(maxs["c"]) <= _STATS_STRING_PREFIX
        # bounds are dropped only together (a one-sided judgement would
        # be unsound for range pruning)
        assert ("c" in mins) == ("c" in maxs) or (
            "c" in mins and len(mn) <= _STATS_STRING_PREFIX
        )


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=64,
        unique=True,
    ),
    st.integers(2, 3),
)
@settings(max_examples=20, deadline=None)
def test_hilbert_index_matches_skilling_reference(pts, dims):
    """The unrolled SQL Hilbert transform must compute EXACTLY Skilling's
    axes-to-transpose index ("Programming the Hilbert curve", AIP 2004) —
    the property the clustering-quality guarantees ride on."""
    from ballista_delta_spark.session import get_spark
    from ballista_delta_spark.sources.delta import _Z_BITS, _hilbert_index

    def reference(X, b):
        X = list(X)
        n = len(X)
        Q = 1 << (b - 1)
        while Q > 1:
            P = Q - 1
            for i in range(n):
                if X[i] & Q:
                    X[0] ^= P
                else:
                    t = (X[0] ^ X[i]) & P
                    X[0] ^= t
                    X[i] ^= t
            Q >>= 1
        for i in range(1, n):
            X[i] ^= X[i - 1]
        t, Q = 0, 1 << (b - 1)
        while Q > 1:
            if X[n - 1] & Q:
                t ^= Q - 1
            Q >>= 1
        X = [x ^ t for x in X]
        h = 0
        for bb in range(b):
            for i in range(n):
                h |= ((X[i] >> bb) & 1) << (bb * n + (n - 1 - i))
        return h

    spark = get_spark("tests", cpus=8)
    xs = [f"__hx{i}" for i in range(dims)]
    coords = [p[:dims] for p in pts]
    df = spark.createDataFrame(
        coords, ", ".join(f"c{i} int" for i in range(dims))
    ).selectExpr(
        *[f"c{i}" for i in range(dims)],
        *[f"c{i} AS {x}" for i, x in enumerate(xs)],
    )
    for r in _hilbert_index(df, xs).collect():
        want = reference([r[f"c{i}"] for i in range(dims)], _Z_BITS)
        assert r["__h"] == want


# ------------------------------------------------ type-widening matrix
# _is_type_widening encodes the spec's lossless-widening table; the
# feature is metadata-only, so its soundness RIDES on Spark's parquet
# readers converting the narrow physical values under the widened
# requested schema (int32 under long/double/decimal, float under double,
# date under timestampNTZ, decimal re-scale). Generate (narrow values,
# accepted widen chain) pairs and pin read-back equality end-to-end.
class TestTypeWideningMatrix:
    _POOL = [
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "date", "timestamp_ntz",
        "decimal(10,0)", "decimal(12,2)", "decimal(20,5)",
        "decimal(38,18)",
    ]
    _VALUES = {
        "tinyint": st.integers(-128, 127),
        "smallint": st.integers(-(1 << 15), (1 << 15) - 1),
        "int": st.integers(-(1 << 31), (1 << 31) - 1),
        "bigint": st.integers(-(1 << 63), (1 << 63) - 1),
        "float": st.floats(
            allow_nan=False, allow_infinity=False, width=32
        ),
        "date": st.dates(),
        "decimal(10,0)": st.decimals(
            min_value=-(10**10 - 1), max_value=10**10 - 1, places=0,
            allow_nan=False, allow_infinity=False,
        ),
        "decimal(12,2)": st.decimals(
            min_value=-(10**9), max_value=10**9, places=2,
            allow_nan=False, allow_infinity=False,
        ),
    }

    @staticmethod
    def _dt(s):
        """DDL string -> DataType WITHOUT a SparkContext (strategies run
        before the session exists)."""
        import re as _re

        from pyspark.sql import types as T

        m = {
            "tinyint": T.ByteType(), "smallint": T.ShortType(),
            "int": T.IntegerType(), "bigint": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "date": T.DateType(), "timestamp_ntz": T.TimestampNTZType(),
        }
        if s in m:
            return m[s]
        p, sc = _re.match(r"decimal\((\d+),(\d+)\)", s).groups()
        return T.DecimalType(int(p), int(sc))

    @staticmethod
    @st.composite
    def _case(draw):
        from ballista_delta_spark.sources.delta import _is_type_widening

        dt = TestTypeWideningMatrix._dt
        pool = TestTypeWideningMatrix._POOL
        start = draw(st.sampled_from(
            list(TestTypeWideningMatrix._VALUES)
        ))
        cur = dt(start)
        chain: list[str] = []
        for _ in range(draw(st.integers(1, 3))):
            cands = [
                s for s in pool if _is_type_widening(cur, dt(s))
            ]
            if not cands:
                break
            nxt = draw(st.sampled_from(cands))
            chain.append(nxt)
            cur = dt(nxt)
        if not chain:
            # every starting type in _VALUES has at least one widening
            raise AssertionError(f"no widening from {start}")
        values = draw(st.lists(
            TestTypeWideningMatrix._VALUES[start], min_size=1, max_size=4
        ))
        return start, values, chain

    @given(_case())
    @settings(max_examples=15, deadline=None)
    def test_widen_chain_reads_back_exact_values(self, case):
        import datetime
        import decimal
        import shutil
        import tempfile

        import numpy as np

        from ballista_delta_spark.session import get_spark
        from ballista_delta_spark.sources.delta import (
            alter_column_type,
            read_delta,
            write_delta,
        )

        start, values, chain = case
        spark = get_spark("tests", cpus=8)
        rows = [(i, v) for i, v in enumerate(values)] + [(len(values), None)]
        d = tempfile.mkdtemp(prefix="widen-")
        try:
            write_delta(
                spark.createDataFrame(rows, f"id int, c {start}"),
                d,
            )
            for step in chain:
                alter_column_type(d, "c", step)
            got = {
                r["id"]: r["c"]
                for r in read_delta(spark, d).collect()
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
        final = chain[-1]
        assert got[len(values)] is None  # NULL survives every widening
        for i, v in enumerate(values):
            g = got[i]
            if final in ("timestamp_ntz",) and isinstance(
                v, datetime.date
            ):
                assert g == datetime.datetime(v.year, v.month, v.day)
            elif final.startswith("decimal"):
                assert isinstance(g, decimal.Decimal)
                assert g == decimal.Decimal(v) if not isinstance(
                    v, decimal.Decimal
                ) else g == v
            elif final == "double" and start == "float":
                # the file stores float32; widened read must be THAT
                # value as a double, bit-exactly
                assert g == float(np.float32(v))
            else:
                assert g == v, (start, chain, v, g)


# ------------------------------------------- Delta lifecycle model check
# Model-based stateful test: a random sequence of table operations
# (append / COW and DV deletes / update / overwrite / optimize /
# checkpoint+log-cleanup / restore) runs against BOTH the real Delta
# layer and a trivial in-memory model of the expected rows, asserting
# full-table equality after EVERY step. This is the test shape that
# catches protocol interactions no example test enumerates (e.g. a DV
# delete followed by restore across a checkpoint).
class TestDeltaLifecycleModel:
    @given(
        st.lists(
            st.one_of(
                st.tuples(st.just("append"),
                          st.lists(st.integers(0, 99), min_size=1,
                                   max_size=4)),
                st.tuples(st.just("delete"), st.integers(0, 9),
                          st.booleans()),   # (mod bucket, use DVs)
                st.tuples(st.just("update"), st.integers(0, 9)),
                st.tuples(st.just("overwrite"),
                          st.lists(st.integers(0, 99), min_size=1,
                                   max_size=3)),
                st.tuples(st.just("optimize")),
                st.tuples(st.just("checkpoint")),
                st.tuples(st.just("restore")),
                st.tuples(st.just("merge"),
                          st.lists(st.integers(0, 99), min_size=1,
                                   max_size=3)),
                st.tuples(st.just("zorder")),
                st.tuples(st.just("vacuum")),
                st.tuples(st.just("clone"), st.booleans()),  # deep?
            ),
            min_size=3, max_size=9,
        )
    )
    @settings(max_examples=6, deadline=None)
    def test_random_op_sequences_match_the_model(self, ops):
        import tempfile
        import shutil

        from ballista_delta_spark.session import get_spark
        from ballista_delta_spark.sources.delta import (
            _load_snapshot,
            alter_properties,
            cleanup_log,
            clone_delta,
            create_checkpoint,
            optimize,
            read_delta,
            read_delta_changes,
            restore_delta,
            vacuum,
            write_delta,
        )
        from ballista_delta_spark.sources.delta_dml import (
            delete_delta,
            merge_delta,
            update_delta,
        )

        spark = get_spark("tests", cpus=8)
        d = tempfile.mkdtemp(prefix="model-")
        tbl = f"{d}/t"
        seq = [1000]  # unique row ids

        def mk(vals):
            rows = [(seq[0] + i, v) for i, v in enumerate(vals)]
            seq[0] += len(vals)
            return rows

        model: list[tuple[int, int]] = mk([5, 7])
        # actual version -> expected rows (ops may no-op and commit
        # nothing, so versions are recorded from the table, not counted)
        by_version: dict[int, list[tuple[int, int]]] = {}

        write_delta(
            spark.createDataFrame(model, "id int, v int").coalesce(1), tbl
        )
        by_version[0] = sorted(model)
        # CDF on from the start: DML commits write real cdc files while
        # append/overwrite/restore commits are served by the derivation
        # rule — the fold audit below exercises BOTH paths
        alter_properties(
            spark, tbl, set_props={"delta.enableChangeDataFeed": "true"}
        )
        by_version[_load_snapshot(tbl).version] = sorted(model)
        # versions below this may legally be unreadable (log cleaned by
        # checkpoint+cleanup, or data files reaped by a 0-retention vacuum)
        earliest_readable = 0
        clone_n = 0
        try:
            for op in ops:
                kind = op[0]
                if kind == "append":
                    rows = mk(op[1])
                    write_delta(
                        spark.createDataFrame(rows, "id int, v int")
                        .coalesce(1), tbl, mode="append",
                    )
                    model.extend(rows)
                elif kind == "delete":
                    mod, dv = op[1], op[2]
                    delete_delta(
                        spark, tbl, f"v % 10 = {mod}",
                        mode="dv" if dv else "cow",
                    )
                    model = [(i, v) for i, v in model if v % 10 != mod]
                elif kind == "update":
                    mod = op[1]
                    update_delta(
                        spark, tbl, f"v % 10 = {mod}", {"v": "v + 100"}
                    )
                    model = [
                        (i, v + 100 if v % 10 == mod else v)
                        for i, v in model
                    ]
                elif kind == "overwrite":
                    rows = mk(op[1])
                    write_delta(
                        spark.createDataFrame(rows, "id int, v int")
                        .coalesce(1), tbl, mode="overwrite",
                    )
                    model = list(rows)
                elif kind == "optimize":
                    optimize(spark, tbl)
                elif kind == "zorder":
                    optimize(spark, tbl, zorder_by=["v"])
                elif kind == "merge":
                    rows = mk(op[1])
                    # up to 2 matched rows take s.v (an upsert), the rest
                    # of the source inserts — exercises both MERGE arms
                    ex = [(i, v + 1000) for i, v in model[:2]]
                    merge_delta(
                        spark, tbl,
                        spark.createDataFrame(
                            ex + rows, "id int, v int"
                        ).coalesce(1),
                        "t.id = s.id", matched_update={"v": "s.v"},
                    )
                    exd = dict(ex)
                    model = [
                        (i, exd.get(i, v)) for i, v in model
                    ] + rows
                elif kind == "vacuum":
                    vacuum(tbl, retention_ms=0)
                    earliest_readable = max(
                        earliest_readable, _load_snapshot(tbl).version
                    )
                elif kind == "clone":
                    clone_n += 1
                    dst = f"{d}/clone{clone_n}"
                    clone_delta(tbl, dst, deep=op[1])
                    got_c = sorted(
                        (r["id"], r["v"])
                        for r in read_delta(spark, dst).collect()
                    )
                    assert got_c == sorted(model), ("clone", got_c)
                elif kind == "checkpoint":
                    create_checkpoint(tbl)
                    cleanup_log(tbl, retention_ms=0)
                    earliest_readable = max(
                        earliest_readable, _load_snapshot(tbl).version
                    )
                elif kind == "restore":
                    target = _load_snapshot(tbl).version // 2
                    expected = by_version.get(target)
                    if expected is not None:
                        try:
                            restore_delta(tbl, target)
                            model = list(expected)
                        except (ValueError, FileNotFoundError):
                            pass  # target cleaned away: legal refusal
                ver = _load_snapshot(tbl).version  # log stays loadable
                by_version[ver] = sorted(model)
                got = sorted(
                    (r["id"], r["v"])
                    for r in read_delta(spark, tbl).collect()
                )
                assert got == sorted(model), (op, got, sorted(model))
                # the commit's .crc sidecar must verify against a fresh
                # replay after EVERY op kind (append/DML/optimize/
                # restore/cleanup interactions included)
                from ballista_delta_spark.sources.delta import (
                    verify_checksum,
                )

                rep = verify_checksum(tbl)
                assert rep["ok"], (op, rep)
            # end-of-sequence time-travel audit: every version that is
            # still legally readable must replay to EXACTLY the rows the
            # model recorded when that version was current — this is what
            # caught the RESTORE path-only-diff bug (DV re-adds ignored)
            for v, rows in sorted(by_version.items()):
                if v < earliest_readable:
                    continue
                got_v = sorted(
                    (r["id"], r["v"])
                    for r in read_delta(spark, tbl, version=v).collect()
                )
                assert got_v == rows, ("time-travel", v, got_v, rows)
            # change-feed fold audit: applying read_delta_changes between
            # each pair of recorded versions onto the earlier state must
            # reproduce the later state exactly — real cdc files for the
            # DML commits (CDF is on), spec derivation for append/
            # overwrite/restore, and dataChange=false compaction no-ops
            versions = sorted(
                v for v in by_version if v >= earliest_readable
            )
            from collections import Counter

            for lo, hi in zip(versions, versions[1:]):
                # multiset arithmetic: CDF row order within the batch is
                # arbitrary (a postimage may precede its preimage), so
                # fold counts, then check no (row, count) went negative
                state = Counter(by_version[lo])
                for r in read_delta_changes(spark, tbl, lo, hi).collect():
                    ct = r["_change_type"]
                    key = (r["id"], r["v"])
                    if ct in ("delete", "update_preimage"):
                        state[key] -= 1
                    elif ct in ("insert", "update_postimage"):
                        state[key] += 1
                    else:
                        raise AssertionError(f"unknown _change_type {ct!r}")
                assert not any(n < 0 for n in state.values()), (
                    "cdf-removed-nonexistent-row", lo, hi, state
                )
                got_f = sorted(k for k, n in state.items() if n)
                assert got_f == by_version[hi], (
                    "cdf-fold", lo, hi, got_f, by_version[hi]
                )
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestAhashBandingExactness:
    """mm_dedup_ahash's candidate generation claims EXACTNESS by
    pigeonhole: any pair of 32-bit signatures within hamming radius 3
    shares at least one untouched 8-bit band, so the banded equi-join
    finds every qualifying pair. Verify the claim itself over random
    signature sets (pure integer logic — no Spark needed)."""

    @given(st.lists(st.integers(0, 2**32 - 1), min_size=2, max_size=40))
    @settings(max_examples=200, deadline=None)
    def test_band_collision_finds_every_close_pair(self, sigs):
        from ballista_delta_spark.queries.multimodal import (
            _AHASH_BANDS,
            _AHASH_RADIUS,
        )

        def bands(s):
            return [(k, (s >> (8 * k)) & 255) for k in range(_AHASH_BANDS)]

        ids = list(enumerate(sigs))
        brute = {
            (i, j)
            for i, a in ids
            for j, b in ids
            if i < j and bin(a ^ b).count("1") <= _AHASH_RADIUS
        }
        banded = {
            (i, j)
            for i, a in ids
            for j, b in ids
            if i < j
            and any(ba == bb for ba, bb in zip(bands(a), bands(b)))
            and bin(a ^ b).count("1") <= _AHASH_RADIUS
        }
        assert banded == brute


class TestFileIndexDictEquivalence:
    """_FileIndex (the lazy columnar snap.files) must be observationally
    identical to a plain dict under any interleaving of the operations
    the log replay and DML paths perform: get/set/del/contains/iter/len/
    items/values/pop/update/copy-to-dict."""

    @staticmethod
    def _build(n_base: int):
        import pyarrow as pa

        from ballista_delta_spark.sources.delta import _FileIndex

        smap = pa.map_(pa.string(), pa.string())
        add_t = pa.struct([
            ("path", pa.string()), ("partitionValues", smap),
            ("size", pa.int64()), ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ])
        rows = [
            {
                "path": f"f{i:04d}.parquet",
                "partitionValues": [("p", str(i % 3))],
                "size": 100 + i,
                "dataChange": True,
                "stats": f'{{"numRecords":{i}}}',
            }
            for i in range(n_base)
        ]
        arr = pa.array(rows, type=add_t)
        fi = _FileIndex([arr])
        ref = {
            r["path"]: {
                "path": r["path"],
                "partitionValues": {"p": str(i % 3)},
                "size": 100 + i,
                "dataChange": True,
                "stats": f'{{"numRecords":{i}}}',
            }
            for i, r in enumerate(rows)
        }
        return fi, ref

    @given(
        n_base=st.integers(min_value=0, max_value=12),
        ops=st.lists(
            st.tuples(
                st.sampled_from(["set", "del", "pop", "reset"]),
                st.integers(min_value=0, max_value=15),
            ),
            max_size=30,
        ),
    )
    @settings(max_examples=120, deadline=None)
    def test_random_mutation_sequences(self, n_base, ops):
        fi, ref = self._build(n_base)
        for op, i in ops:
            key = f"f{i:04d}.parquet"
            if op == "set":
                v = {"path": key, "size": 9000 + i, "partitionValues": {}}
                fi[key] = v
                ref[key] = v
            elif op == "del":
                if key in ref:
                    del fi[key]
                    del ref[key]
                else:
                    import pytest as _pt

                    with _pt.raises(KeyError):
                        del fi[key]
            elif op == "pop":
                assert fi.pop(key, None) == ref.pop(key, None)
            elif op == "reset":  # delete-then-re-add (the tail-replay shape)
                if key in ref:
                    del fi[key], ref[key]
                v = {"path": key, "size": 1, "partitionValues": {}}
                fi[key] = v
                ref[key] = v
            # every mutation preserves full observational equivalence
            assert len(fi) == len(ref)
            assert (key in fi) == (key in ref)
        assert dict(fi) == ref
        assert fi == ref
        assert set(fi) == set(ref)
        assert sorted(fi.keys()) == sorted(ref.keys())
        assert {k: v for k, v in fi.items()} == ref
        assert sorted(a["path"] for a in fi.values()) == sorted(
            a["path"] for a in ref.values()
        )
        # skip_triples (the columnar feed of skip_files' distributed
        # pass) must agree with the materialized view after ANY mutation
        # interleaving — including cache hits from the __getitem__ above.
        assert sorted(fi.skip_triples()) == sorted(
            (p, a.get("stats"), a.get("partitionValues") or {})
            for p, a in ref.items()
        )


def test_paths_with_field_ignores_shadowed_duplicate_rows():
    """A path duplicated across checkpoint parts where only the STALE
    (shadowed) row carries deletionVector must not be reported —
    last-wins resolution is authoritative (ADVICE r10). Spec-violating
    input, but a false positive here raises 'deletion vectors not
    supported' on plain scans or builds dv_adds for DV-free adds."""
    import pyarrow as pa

    from ballista_delta_spark.sources.delta import _FileIndex

    dv_t = pa.struct([("storageType", pa.string()), ("sizeInBytes", pa.int64())])
    add_t = pa.struct([("path", pa.string()), ("deletionVector", dv_t)])
    stale = pa.array(
        [{"path": "dup.parquet",
          "deletionVector": {"storageType": "u", "sizeInBytes": 10}},
         {"path": "live-dv.parquet",
          "deletionVector": {"storageType": "u", "sizeInBytes": 11}}],
        type=add_t,
    )
    fresh = pa.array(
        [{"path": "dup.parquet", "deletionVector": None}], type=add_t
    )
    fi = _FileIndex([stale, fresh])  # later array wins on duplicates
    assert fi.paths_with_field("deletionVector") == ["live-dv.parquet"]
    # the inverse shadowing (stale row WITHOUT the field, fresh WITH) holds
    fi2 = _FileIndex([fresh, stale])
    assert sorted(fi2.paths_with_field("deletionVector")) == [
        "dup.parquet", "live-dv.parquet",
    ]
    # overlay adds still surface, dropped rows still vanish
    fi[
        "overlay.parquet"
    ] = {"path": "overlay.parquet", "deletionVector": {"storageType": "u"}}
    del fi["live-dv.parquet"]
    assert fi.paths_with_field("deletionVector") == ["overlay.parquet"]


class TestProjectStructEquivalence:
    """_project_struct (the columnar checkpoint re-projection) must agree
    with the dict route for any source/target field relationship:
    matching, missing (→ null), extra (→ dropped), int-width-mismatched
    (→ cast), nested struct (→ recursive), and null rows."""

    @given(
        rows=st.lists(
            st.fixed_dictionaries({
                "path": st.text(
                    alphabet="abcdef0123456789", min_size=1, max_size=8
                ),
                "size": st.one_of(st.none(), st.integers(0, 2**31 - 1)),
                "extra": st.one_of(st.none(), st.text(max_size=4)),
                "dv": st.one_of(
                    st.none(),
                    st.fixed_dictionaries({
                        "storageType": st.sampled_from(["u", "i"]),
                        "sizeInBytes": st.integers(0, 1000),
                    }),
                ),
            }),
            min_size=0,
            max_size=12,
        )
    )
    @settings(max_examples=80, deadline=None)
    def test_matches_dict_route(self, rows):
        import pyarrow as pa

        from ballista_delta_spark.sources.delta import _project_struct

        src_t = pa.struct([
            ("path", pa.string()),
            ("size", pa.int32()),           # narrower than target
            ("extra", pa.string()),         # absent from target
            ("dv", pa.struct([
                ("storageType", pa.string()),
                ("sizeInBytes", pa.int32()),
                ("junk", pa.string()),      # absent from target
            ])),
        ])
        tgt_t = pa.struct([
            ("path", pa.string()),
            ("size", pa.int64()),           # widened
            ("missing", pa.string()),       # absent from source -> null
            ("dv", pa.struct([
                ("storageType", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("offset", pa.int32()),     # absent from source -> null
            ])),
        ])
        src_rows = [
            {
                "path": r["path"], "size": r["size"], "extra": r["extra"],
                "dv": None if r["dv"] is None else {**r["dv"], "junk": "j"},
            }
            for r in rows
        ]
        src = pa.array(src_rows, type=src_t)
        got = _project_struct(src, tgt_t).to_pylist()
        want = [
            {
                "path": r["path"],
                "size": r["size"],
                "missing": None,
                "dv": None if r["dv"] is None else {
                    "storageType": r["dv"]["storageType"],
                    "sizeInBytes": r["dv"]["sizeInBytes"],
                    "offset": None,
                },
            }
            for r in rows
        ]
        assert got == want


class TestMaskLiterals:
    """_mask_literals invariants the whole SQL dialect layer rests on:
    same length (regex spans index into the ORIGINAL statement), code
    outside literals preserved verbatim, literal contents fully masked
    even with doubled-quote AND backslash escapes (ADVICE r10: a
    desynced mask swallowed trailing WHERE into a phantom literal)."""

    # inner literal text: anything printable; quotes/backslashes get
    # escaped by the builder below
    _inner = st.text(
        st.characters(min_codepoint=32, max_codepoint=126), max_size=12
    )
    # non-empty: an empty code segment would abut two literals, which the
    # SQL lexer (correctly, maximal munch) reads as ONE literal with an
    # escaped quote — '' '' vs '''' is the lexer's call, not the mask's.
    # '-' and '/' excluded so random code can't form a comment opener
    # ('--' / '/*'), which (correctly, r13) masks to end-of-comment and
    # would diverge from this test's literal-only expected string; the
    # comment arm has its own directed + property coverage below.
    _code = st.text(
        st.characters(
            min_codepoint=32, max_codepoint=126,
            exclude_characters="'\"\\-/",
        ),
        min_size=1, max_size=12,
    )

    @staticmethod
    def _quote(inner: str, q: str, style: str) -> str:
        # Backslash is an escape in Spark's lexer in BOTH quoting styles
        # (verified: SELECT '\' errors as unterminated, '\\' parses), so
        # a literal backslash must be doubled regardless of how quotes
        # are escaped — the old "double" arm emitted '\' for a lone
        # backslash inner, an ill-formed literal the masker correctly
        # reads as escaping the closing quote (hypothesis found it r12).
        if style == "double":
            body = inner.replace("\\", "\\\\").replace(q, q + q)
        else:
            body = inner.replace("\\", "\\\\").replace(q, "\\" + q)
        return q + body + q

    @given(
        code=st.lists(_code, min_size=1, max_size=4),
        inners=st.lists(_inner, min_size=0, max_size=3),
        quotes=st.lists(st.sampled_from(["'", '"']), min_size=3, max_size=3),
        styles=st.lists(
            st.sampled_from(["double", "backslash"]), min_size=3, max_size=3
        ),
    )
    @settings(max_examples=300, deadline=None)
    def test_mask_preserves_code_and_masks_literals(
        self, code, inners, quotes, styles
    ):
        from ballista_delta_spark.session import _mask_literals

        # interleave code segments and well-formed literals
        parts, lit_spans = [], []
        pos = 0
        for i, seg in enumerate(code):
            parts.append(seg)
            pos += len(seg)
            if i < len(inners):
                lit = self._quote(inners[i], quotes[i], styles[i])
                parts.append(lit)
                lit_spans.append((pos, pos + len(lit)))
                pos += len(lit)
        stmt = "".join(parts)
        masked = _mask_literals(stmt)
        assert len(masked) == len(stmt)
        # every literal is quote + xxx + quote; everything else verbatim
        expected = list(stmt)
        for s, e in lit_spans:
            for k in range(s + 1, e - 1):
                expected[k] = "x"
        assert masked == "".join(expected)
        # masking is idempotent (a masked statement has no escapes left)
        assert _mask_literals(masked) == masked

    @given(st.text(max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_mask_never_changes_length_or_crashes(self, stmt):
        from ballista_delta_spark.session import _mask_literals

        masked = _mask_literals(stmt)
        assert len(masked) == len(stmt)
        # characters outside quotes in the MASK are either original or 'x'
        for a, b in zip(stmt, masked):
            assert b == a or b == "x"
        # masking is a fixed point for EVERY input, comments included
        assert _mask_literals(masked) == masked

    def test_comments_are_masked_like_the_lexer(self):
        """ADVICE r12: 'k = 1 -- note AND m = 9' filters as k = 1 in
        Spark (comment text is not syntax), so AND/OR/parens/quotes
        inside comments must be opaque to every mask-based scanner."""
        from ballista_delta_spark.session import _mask_literals

        def _exp(prefix, body, suffix):
            return prefix + "x" * len(body) + suffix

        m = _mask_literals("k = 1 -- note AND m = 9")
        assert m == _exp("k = 1 --", " note AND m = 9", "")
        m = _mask_literals("k = 1 /* AND m = 9 */ AND j = 2")
        assert m == _exp("k = 1 /*", " AND m = 9 ", "*/ AND j = 2")
        # nesting (Spark 3+ bracketed comments nest)
        m = _mask_literals("a /* x /* y */ z */ b")
        assert m == _exp("a /*", " x /* y */ z ", "*/ b")
        # unterminated block comment masks to end (like an open literal)
        assert _mask_literals("a /* open") == _exp("a /*", " open", "")
        # '--' INSIDE a literal is content, not a comment opener
        assert _mask_literals("s = '--x' AND k = 1") == (
            "s = 'xxx' AND k = 1"
        )
        # a quote inside a comment can't open a phantom literal
        assert _mask_literals("k = 1 -- don't\nAND m = 2") == (
            "k = 1 --xxxxxx\nAND m = 2"
        )


class TestFileStatsSoundness:
    """_file_stats claims must be SOUND for arbitrary data and row-group
    layouts: numRecords exact, nullCount (when claimed) exact, min a
    lower bound and max an upper bound (string bounds may be truncated
    prefixes / bumped prefixes — still bounds). Unsound claims are how
    data skipping silently drops rows."""

    _vals = st.lists(
        st.one_of(st.none(), st.integers(-2**40, 2**40)),
        min_size=1, max_size=24,
    )
    _strs = st.lists(
        st.one_of(st.none(), st.text(max_size=40)),
        min_size=1, max_size=24,
    )

    @given(ints=_vals, strs=_strs, chunk=st.integers(1, 7))
    @settings(max_examples=80, deadline=None)
    def test_claims_bound_the_data(self, ints, strs, chunk, tmp_path_factory):
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        from ballista_delta_spark.sources.delta import _file_stats

        n = max(len(ints), len(strs))
        ints = (ints * n)[:n]
        strs = (strs * n)[:n]
        p = str(tmp_path_factory.mktemp("fs") / "f.parquet")
        schema = pa.schema([("i", pa.int64()), ("s", pa.string())])
        with pq.ParquetWriter(p, schema) as w:
            for k in range(0, n, chunk):
                w.write_table(pa.table({
                    "i": pa.array(ints[k:k + chunk], pa.int64()),
                    "s": pa.array(strs[k:k + chunk], pa.string()),
                }))
        fields = [
            T.StructField("i", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
        stt = _json.loads(_file_stats(p, fields))
        assert stt["numRecords"] == n
        real_i = [v for v in ints if v is not None]
        real_s = [v for v in strs if v is not None]
        if "i" in stt["nullCount"]:
            assert stt["nullCount"]["i"] == ints.count(None)
        if "s" in stt["nullCount"]:
            assert stt["nullCount"]["s"] == strs.count(None)
        if "i" in stt["minValues"]:
            assert real_i and stt["minValues"]["i"] <= min(real_i)
            assert stt["maxValues"]["i"] >= max(real_i)
        if "s" in stt["minValues"]:
            assert real_s and stt["minValues"]["s"] <= min(real_s)
            assert stt["maxValues"]["s"] >= max(real_s)


class TestStreamByteBudgetWalk:
    """maxBytesPerTrigger admission (r11: CDF plans gained sizes, making
    the budget real in both modes): bytes are a SOFT cap — a batch may
    overshoot by exactly one file but never starves (progress even when a
    single file exceeds the budget) — and the walk still emits every file
    once, in log order, terminating."""

    @given(
        sizes=st.lists(
            st.lists(st.integers(0, 100), min_size=0, max_size=4),
            min_size=1, max_size=5,
        ),
        bbudget=st.integers(1, 120),
        fbudget=st.one_of(st.none(), st.integers(1, 3)),
    )
    @settings(max_examples=200, deadline=None)
    def test_soft_byte_cap_emits_all_files_once(
        self, sizes, bbudget, fbudget
    ):
        from ballista_delta_spark.sources.delta_stream import (
            DeltaFilePartition,
            DeltaStreamReader,
        )

        r = DeltaStreamReader.__new__(DeltaStreamReader)
        r.starting_version = 0
        r.max_files_per_trigger = fbudget
        r.max_versions_per_trigger = None
        r.max_bytes_per_trigger = bbudget
        r.read_change_feed = False
        r._planned = None
        r._snap_version = None
        r._snap_plans = {}
        r._plans = {
            v: [
                DeltaFilePartition(v, f"f-{v}-{i}.parquet", size=s)
                for i, s in enumerate(row)
            ]
            for v, row in enumerate(sizes)
        }
        r._latest_version = lambda: len(sizes) - 1
        off = r.initialOffset()
        seen: list[str] = []
        for _ in range(300):
            end = r.latestOffset()
            parts = r.partitions(off, end)
            if fbudget is not None:
                assert len(parts) <= fbudget
            if parts:
                # soft cap: the total minus the LAST admitted file's
                # bytes must be strictly under the budget
                total = sum(p.size for p in parts)
                assert total - parts[-1].size < bbudget
            seen.extend(p.rel_path for p in parts)
            if end == off:
                break
            off = end
        else:
            raise AssertionError("byte-budget walk did not terminate")
        assert seen == [
            f"f-{v}-{i}.parquet"
            for v, row in enumerate(sizes)
            for i in range(len(row))
        ]


class TestSkipDisjunctionSoundness:
    """Disjunctive data skipping (r12) must be SOUND for arbitrary file
    ranges and OR-of-AND predicates, in any legal whitespace spelling:
    every file that CONTAINS a matching row survives skip_files. (The
    inverse — pruning effectiveness — is pinned by the directed tests in
    test_data_skipping.py; soundness is the property that silently loses
    rows when violated.)"""

    class _FakeSnap:
        def __init__(self, files, schema):
            self.files = files
            self.schema = schema
            self.partition_columns = []

        def physical(self, c):
            return c

    _OPS = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
        "=": lambda a, b: a == b,
    }

    _branch = st.lists(
        st.tuples(
            st.sampled_from(["<", "<=", ">", ">=", "="]),
            st.integers(-30, 80),
        ),
        min_size=1,
        max_size=2,
    )

    @given(
        files=st.lists(
            st.tuples(st.integers(-20, 60), st.integers(0, 40)),
            min_size=1,
            max_size=8,
        ),
        branches=st.lists(_branch, min_size=1, max_size=3),
        sep=st.sampled_from([" OR ", "\nOR ", "\n OR\t", " OR\n", ") OR ("]),
    )
    @settings(max_examples=150, deadline=None)
    def test_every_matching_file_survives(
        self, spark, files, branches, sep
    ):
        import json as _json

        from pyspark.sql import types as T

        from ballista_delta_spark.sources.delta import skip_files

        schema = T.StructType([T.StructField("k", T.LongType())])
        fdict, ranges = {}, {}
        for idx, (lo, width) in enumerate(files):
            hi = lo + width
            path = f"f{idx}"
            fdict[path] = {
                "path": path,
                "stats": _json.dumps({
                    "numRecords": width + 1,
                    "minValues": {"k": lo},
                    "maxValues": {"k": hi},
                    "nullCount": {"k": 0},
                }),
            }
            ranges[path] = (lo, hi)
        snap = self._FakeSnap(fdict, schema)

        def br_sql(conjs):
            return "(" + " AND ".join(
                f"k {op} {lit}" for op, lit in conjs
            ) + ")"

        # the ") OR (" separator composes with the per-branch parens into
        # "((a)) OR ((b))" — doubly-wrapped branches must still unwrap
        pred = sep.join(br_sql(b) for b in branches)
        if sep == ") OR (":
            pred = "(" + pred + ")"
        kept = skip_files(snap, pred)

        def row_matches(v):
            return any(
                all(self._OPS[op](v, lit) for op, lit in conjs)
                for conjs in branches
            )

        for path, (lo, hi) in ranges.items():
            # files are DENSE int ranges [lo, hi]: a file has a matching
            # row iff some v in the range satisfies the predicate
            if any(row_matches(v) for v in range(lo, hi + 1)):
                assert path in kept, (pred, path, lo, hi, sorted(kept))


class TestSkipFilesDifferentialFuzz:
    """VERDICT r12 #4: the one subsystem where four successive review
    passes each found a real soundness bug (whitespace-blind splitting,
    unicode upper() drift, quote-aware unwrap, comment-blind masking).
    Reviews find bugs; only the invariant proves their absence:

        no file pruned by skip_files contains a row matching the
        predicate (brute-force three-valued SQL eval per row).

    Predicates are generated as ASTs over the FULL accepted grammar —
    cmp (both operand orders, =/==/</<=/>/>= with int, float, string,
    timestamp, and date literals, the last two as strings or as typed
    TIMESTAMP '…' / DATE '…' literals), IN lists, IS [NOT] NULL, an opaque
    unjudgeable leaf (length(s) >= n), AND/OR trees — then rendered with
    randomized whitespace/newlines, keyword case, single/double quotes
    with doubled AND backslash escapes, literal contents containing
    AND/OR/parens/quotes, nested paren wrapping, and '--' / '/*...*/'
    comments injected at token boundaries. Per-file stats are EXACT
    (derived from the generated rows), so every pruning decision is
    attributable to the scanner, not to stats slack."""

    # --- value strategies (ASCII only: Python codepoint order == Spark
    # UTF-8 binary order on this subset)
    _ints = st.integers(-50, 50)
    _floats = st.integers(-400, 400).map(lambda n: n / 8.0)
    _strs = st.text(
        st.characters(min_codepoint=32, max_codepoint=126), max_size=8
    )
    _epochs = st.integers(0, 4_000_000)  # seconds into 2024

    @staticmethod
    def _dt(sec):
        import datetime as dt

        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    # --- AST leaves ("!=" renders as != or <> at random)
    _OPS = ("=", "==", "<", "<=", ">", ">=", "!=")
    # the operator with its operands swapped: `lit < col` is `col > lit`
    _MIRROR = {
        "<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "==",
        "!=": "!=", "<>": "<>",
    }

    @classmethod
    def _leaf_strategy(cls):
        cmp_k = st.tuples(
            st.just("cmp"), st.just("k"), st.sampled_from(cls._OPS),
            st.one_of(cls._ints, cls._floats),
        )
        cmp_s = st.tuples(
            st.just("cmp"), st.just("s"), st.sampled_from(cls._OPS),
            cls._strs,
        )
        cmp_ts = st.tuples(
            st.just("cmp"), st.just("ts"), st.sampled_from(cls._OPS),
            cls._epochs,
        )
        # x is a true DoubleType column whose rows may carry NaN —
        # parquet-style stats EXCLUDE NaN from min/max, so this leaf is
        # the regression net for the ADVICE r13 finding (a {lit, NaN}
        # chunk reports min==max==lit yet NaN satisfies != / > / >=).
        cmp_x = st.tuples(
            st.just("cmp"), st.just("x"), st.sampled_from(cls._OPS),
            cls._floats,
        )
        btw_x = st.tuples(
            st.just("between"), st.just("x"), cls._floats, cls._floats,
            st.booleans(),
        )
        cmp_d = st.tuples(
            st.just("cmp"), st.just("d"), st.sampled_from(cls._OPS),
            cls._epochs,
        )
        in_k = st.tuples(
            st.just("in"), st.just("k"),
            st.lists(cls._ints, min_size=1, max_size=3),
        )
        in_s = st.tuples(
            st.just("in"), st.just("s"),
            st.lists(cls._strs, min_size=1, max_size=3),
        )
        nulls = st.tuples(
            st.just("null"), st.sampled_from(["k", "s", "ts", "d"]),
            st.booleans(),
        )
        opaque = st.tuples(st.just("opaque"), st.integers(0, 6))
        btw_k = st.tuples(
            st.just("between"), st.just("k"), cls._ints, cls._ints,
            st.booleans(),
        )
        btw_ts = st.tuples(
            st.just("between"), st.just("ts"), cls._epochs, cls._epochs,
            st.booleans(),
        )
        # LIKE patterns: judgeable prefixes AND rejected shapes
        # (interior %/_, leading wildcard, no wildcard, empty, NOT)
        like_pat = st.text(
            st.characters(
                min_codepoint=48, max_codepoint=122,
                include_characters="%_",
            ),
            max_size=6,
        )
        like_s = st.tuples(
            st.just("like"), like_pat, st.booleans(),
        )
        return st.one_of(
            cmp_k, cmp_s, cmp_ts, cmp_d, cmp_x, in_k, in_s, nulls, opaque,
            btw_k, btw_ts, btw_x, like_s,
        )

    @classmethod
    def _ast_strategy(cls):
        leaf = cls._leaf_strategy()
        return st.recursive(
            leaf,
            lambda kids: st.tuples(
                st.sampled_from(["and", "or"]),
                st.lists(kids, min_size=2, max_size=3),
            ),
            max_leaves=5,
        )

    # --- rendering ------------------------------------------------------
    @staticmethod
    def _render_str_lit(val, rnd):
        q = rnd.choice(["'", '"'])
        style = rnd.choice(["double", "backslash"])
        body = val.replace("\\", "\\\\")
        body = body.replace(q, q + q if style == "double" else "\\" + q)
        return q + body + q

    def _render_lit(self, col, val, rnd):
        if col == "s":
            return self._render_str_lit(val, rnd)
        if col == "ts":
            d = self._dt(val)
            form = rnd.choice([
                d.strftime("%Y-%m-%d %H:%M:%S"),
                d.strftime("%Y-%m-%dT%H:%M:%S"),
            ])
            # a typed literal is one more input form of the same value
            return rnd.choice(["", "", "TIMESTAMP "]) + "'" + form + "'"
        if col == "d":
            d = self._dt(val)
            if rnd.random() < 0.3:
                return "DATE '" + d.strftime("%Y-%m-%d") + "'"
            form = rnd.choice([
                d.strftime("%Y-%m-%d"),
                d.strftime("%Y-%m-%d %H:%M:%S"),
            ])
            return "'" + form + "'"
        if isinstance(val, float):
            return f"{val:.3f}"
        return str(val)

    @staticmethod
    def _sep(rnd):
        r = rnd.random()
        if r < 0.55:
            return " "
        if r < 0.7:
            return rnd.choice(["  ", "\n", "\t", " \n "])
        if r < 0.85:
            txt = rnd.choice([
                "note", "AND m = 9", "OR (", "don't", 'say "hi"',
            ])
            return " /* " + txt + " */ "
        txt = rnd.choice(["note", "AND k = 1", ") OR ("])
        return " -- " + txt + "\n "

    def _kw(self, word, rnd):
        return rnd.choice([word, word.lower(), word.capitalize()])

    def _render(self, ast, rnd, depth=0):
        kind = ast[0]
        sep = lambda: self._sep(rnd)  # noqa: E731
        if kind == "cmp":
            _, col, op, val = ast
            lit = self._render_lit(col, val, rnd)
            op_txt = rnd.choice(["!=", "<>"]) if op == "!=" else op
            if rnd.random() < 0.25 and col != "s":
                out = lit + sep() + self._MIRROR[op_txt] + sep() + col
            else:
                out = col + sep() + op_txt + sep() + lit
        elif kind == "between":
            _, col, lo, hi, neg = ast
            out = (
                col + " " + (self._kw("NOT", rnd) + " " if neg else "")
                + self._kw("BETWEEN", rnd) + sep()
                + self._render_lit(col, lo, rnd) + sep()
                + self._kw("AND", rnd) + sep()
                + self._render_lit(col, hi, rnd)
            )
        elif kind == "like":
            _, pat, neg = ast
            # a backslash is escaped so the pattern Spark reads holds it
            # (an unescaped one would escape the closing quote)
            out = (
                "s " + (self._kw("NOT", rnd) + " " if neg else "")
                + self._kw("LIKE", rnd) + sep()
                + "'" + pat.replace("\\", "\\\\") + "'"
            )
        elif kind == "in":
            _, col, vals = ast
            lits = (" ," + sep()).join(
                self._render_lit(col, v, rnd) for v in vals
            )
            out = (
                col + " " + self._kw("IN", rnd) + sep() + "(" + sep()
                + lits + sep() + ")"
            )
        elif kind == "null":
            _, col, is_not = ast
            out = (
                col + " " + self._kw("IS", rnd) + " "
                + (self._kw("NOT", rnd) + " " if is_not else "")
                + self._kw("NULL", rnd)
            )
        elif kind == "opaque":
            out = f"length(s) >= {ast[1]}"
        else:  # and / or
            word = self._kw(ast[0].upper(), rnd)
            parts = []
            for child in ast[1]:
                r = self._render(child, rnd, depth + 1)
                # children of a mixed tree must keep their own grouping;
                # wrap (sometimes doubly) to exercise redundant parens
                wrap = (
                    child[0] in ("and", "or")
                    or rnd.random() < 0.5
                )
                if wrap:
                    r = "(" + sep() + r + sep() + ")"
                    if rnd.random() < 0.2:
                        r = "(" + r + ")"
                parts.append(r)
            out = (sep() + word + sep()).join(parts)
        if depth == 0 and rnd.random() < 0.3:
            out = "(" + out + ")"
        return out

    # --- brute-force three-valued SQL eval ------------------------------
    def _eval(self, ast, row):
        kind = ast[0]
        if kind == "cmp":
            _, col, op, val = ast
            cur = row[col]
            if cur is None:
                return None
            if col == "ts":
                val = self._dt(val)
            elif col == "d":
                # Spark casts the literal to DATE (time truncated)
                val = self._dt(val).date()
            import math as _math

            if isinstance(cur, float) and _math.isnan(cur):
                # Spark orders NaN ABOVE every other double and equal
                # only to itself; the generated literals are never NaN.
                return {
                    "=": False, "==": False, "<": False, "<=": False,
                    ">": True, ">=": True, "!=": True,
                }[op]
            import operator as _op

            f = {
                "=": _op.eq, "==": _op.eq, "<": _op.lt, "<=": _op.le,
                ">": _op.gt, ">=": _op.ge, "!=": _op.ne,
            }[op]
            return f(cur, val)
        if kind == "between":
            _, col, lo, hi, neg = ast
            cur = row[col]
            if cur is None:
                return None
            if col == "ts":
                lo, hi = self._dt(lo), self._dt(hi)
            res = lo <= cur <= hi
            return (not res) if neg else res
        if kind == "like":
            import re as _re2

            _, pat, neg = ast
            cur = row["s"]
            if cur is None:
                return None
            rx = "".join(
                ".*" if c == "%" else "." if c == "_" else _re2.escape(c)
                for c in pat
            )
            res = _re2.fullmatch(rx, cur, _re2.DOTALL) is not None
            return (not res) if neg else res
        if kind == "in":
            _, col, vals = ast
            cur = row[col]
            if cur is None:
                return None
            return cur in vals
        if kind == "null":
            _, col, is_not = ast
            return (row[col] is not None) if is_not else (row[col] is None)
        if kind == "opaque":
            if row["s"] is None:
                return None
            return len(row["s"]) >= ast[1]
        vals = [self._eval(c, row) for c in ast[1]]
        if kind == "and":
            if any(v is False for v in vals):
                return False
            return None if any(v is None for v in vals) else True
        if any(v is True for v in vals):
            return True
        return None if any(v is None for v in vals) else False

    # --- stats derivation (EXACT — from the rows) ------------------------
    def _stats(self, rows, rnd):
        import json as _json

        if rnd.random() < 0.1:
            return None  # file with no stats: must always survive
        import math as _math

        mins, maxs, nulls = {}, {}, {}
        for col in ("k", "s", "ts", "d", "x"):
            vals = [r[col] for r in rows if r[col] is not None]
            nulls[col] = sum(1 for r in rows if r[col] is None)
            # parquet footers EXCLUDE NaN from min/max (NaN is not null,
            # so nullCount still counts it as a value) — exactly the
            # stats shape the ADVICE r13 NaN finding exploits.
            vals = [
                v for v in vals
                if not (isinstance(v, float) and _math.isnan(v))
            ]
            if not vals or rnd.random() < 0.15:
                continue  # per-column stats gap: unjudgeable on this col
            lo, hi = min(vals), max(vals)
            if col == "ts":
                fmt = rnd.choice(
                    ["%Y-%m-%dT%H:%M:%S", "%Y-%m-%dT%H:%M:%SZ"]
                )
                lo, hi = lo.strftime(fmt), hi.strftime(fmt)
            elif col == "d":
                lo, hi = lo.strftime("%Y-%m-%d"), hi.strftime("%Y-%m-%d")
            mins[col], maxs[col] = lo, hi
        return _json.dumps({
            "numRecords": len(rows), "minValues": mins,
            "maxValues": maxs, "nullCount": nulls,
        })

    class _FakeSnap:
        def __init__(self, files, schema):
            self.files = files
            self.schema = schema
            self.partition_columns = []

        def physical(self, c):
            return c

    @given(
        data=st.data(),
        seed=st.integers(0, 2**32 - 1),
        n_files=st.integers(1, 5),
    )
    @settings(
        max_examples=int(os.environ.get("SKIPFUZZ_EXAMPLES", "250")),
        deadline=None,
    )
    def test_no_pruned_file_contains_a_matching_row(
        self, spark, data, seed, n_files
    ):
        import random as _random

        from pyspark.sql import types as T

        from ballista_delta_spark.sources.delta import skip_files

        rnd = _random.Random(seed)
        ast = data.draw(self._ast_strategy())

        row_st = st.fixed_dictionaries({
            "k": st.one_of(st.none(), self._ints, self._floats),
            "s": st.one_of(st.none(), self._strs),
            "ts": st.one_of(st.none(), self._epochs.map(self._dt)),
            "d": st.one_of(
                st.none(), self._epochs.map(lambda e: self._dt(e).date())
            ),
            "x": st.one_of(
                st.none(), self._floats, st.just(float("nan"))
            ),
        })
        files = {
            f"f{i}": data.draw(
                st.lists(row_st, min_size=0, max_size=5), label=f"rows{i}"
            )
            for i in range(n_files)
        }

        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("d", T.DateType()),
            T.StructField("x", T.DoubleType()),
        ])
        fdict = {
            path: {"stats": self._stats(rows, rnd)}
            for path, rows in files.items()
        }
        snap = self._FakeSnap(fdict, schema)
        pred = self._render(ast, rnd)
        kept = skip_files(snap, pred)

        for path, rows in files.items():
            if any(self._eval(ast, r) is True for r in rows):
                assert path in kept, (
                    f"UNSOUND PRUNE: file {path} contains a matching row "
                    f"but was pruned.\npredicate: {pred!r}\n"
                    f"stats: {fdict[path]['stats']!r}\nrows: {rows!r}"
                )

    # ------------------------------------------------------------------
    # Partition-value pruning + generated-column derivation (the two
    # scanner routes the stats fuzz above doesn't reach): a table
    # partitioned by plain `p`, by `gd` GENERATED AS CAST(ts AS DATE),
    # and by `y` GENERATED AS year(ts). Predicates hit ts (so pruning
    # must go THROUGH the derivation, incl. strict-inequality widening),
    # the partition columns directly, or both. Files are internally
    # consistent (all rows share one day / one p), stats for ts appear
    # on a coin flip so both the stats route and the derivation-only
    # route are exercised.
    def _render_part_lit(self, col, val, rnd):
        if col == "ts":
            return self._render_lit("ts", val, rnd)
        if col == "gd":
            return self._render_lit("d", val, rnd)
        return str(val)  # p / y ints

    @classmethod
    def _part_leaf_strategy(cls):
        ops = st.sampled_from(cls._OPS)
        return st.one_of(
            st.tuples(st.just("cmp"), st.just("ts"), ops, cls._epochs),
            st.tuples(st.just("cmp"), st.just("gd"), ops, cls._epochs),
            st.tuples(
                st.just("cmp"), st.just("p"), ops, st.integers(-9, 9)
            ),
            st.tuples(
                st.just("cmp"), st.just("y"), ops,
                st.integers(2023, 2026),
            ),
            st.tuples(
                st.just("in"), st.just("p"),
                st.lists(st.integers(-9, 9), min_size=1, max_size=3),
            ),
            st.tuples(
                st.just("null"), st.sampled_from(["p", "ts"]),
                st.booleans(),
            ),
            st.tuples(
                st.just("between"), st.just("ts"), cls._epochs,
                cls._epochs, st.booleans(),
            ),
            st.tuples(
                st.just("between"), st.just("p"), st.integers(-9, 9),
                st.integers(-9, 9), st.booleans(),
            ),
        )

    def _render_part(self, ast, rnd, depth=0):
        kind = ast[0]
        if kind == "cmp":
            _, col, op, val = ast
            lit = self._render_part_lit(col, val, rnd)
            sep = self._sep(rnd)
            op_txt = rnd.choice(["!=", "<>"]) if op == "!=" else op
            if rnd.random() < 0.25:
                return lit + sep + self._MIRROR[op_txt] + sep + col
            return col + sep + op_txt + sep + lit
        if kind in ("in", "null", "opaque", "between"):
            return self._render(ast, rnd, depth)  # int/ts literal forms
        word = self._kw(ast[0].upper(), rnd)
        parts = []
        for child in ast[1]:
            r = self._render_part(child, rnd, depth + 1)
            if child[0] in ("and", "or") or rnd.random() < 0.5:
                r = "(" + r + ")"
            parts.append(r)
        return (" " + word + " ").join(parts)

    def _eval_part(self, ast, row):
        kind = ast[0]
        if kind == "cmp":
            _, col, op, val = ast
            cur = row[col]
            if cur is None:
                return None
            if col == "ts":
                val = self._dt(val)
            elif col == "gd":
                val = self._dt(val).date()
            import operator as _op

            f = {
                "=": _op.eq, "==": _op.eq, "<": _op.lt, "<=": _op.le,
                ">": _op.gt, ">=": _op.ge, "!=": _op.ne,
            }[op]
            return f(cur, val)
        if kind == "between":
            _, col, lo, hi, neg = ast
            cur = row[col]
            if cur is None:
                return None
            if col == "ts":
                lo, hi = self._dt(lo), self._dt(hi)
            res = lo <= cur <= hi
            return (not res) if neg else res
        if kind == "in":
            cur = row[ast[1]]
            return None if cur is None else cur in ast[2]
        if kind == "null":
            _, col, is_not = ast
            return (row[col] is not None) if is_not else (row[col] is None)
        vals = [self._eval_part(c, row) for c in ast[1]]
        if kind == "and":
            if any(v is False for v in vals):
                return False
            return None if any(v is None for v in vals) else True
        if any(v is True for v in vals):
            return True
        return None if any(v is None for v in vals) else False

    @given(
        data=st.data(),
        seed=st.integers(0, 2**32 - 1),
        n_files=st.integers(1, 5),
    )
    @settings(
        max_examples=int(os.environ.get("SKIPFUZZ_EXAMPLES", "250")),
        deadline=None,
    )
    def test_partition_and_generated_column_pruning_is_sound(
        self, spark, data, seed, n_files
    ):
        import json as _json
        import random as _random

        from pyspark.sql import types as T

        from ballista_delta_spark.sources.delta import skip_files

        rnd = _random.Random(seed)
        ast = data.draw(
            st.recursive(
                self._part_leaf_strategy(),
                lambda kids: st.tuples(
                    st.sampled_from(["and", "or"]),
                    st.lists(kids, min_size=2, max_size=3),
                ),
                max_leaves=5,
            )
        )
        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField(
                "gd", T.DateType(),
                metadata={"delta.generationExpression": "CAST(ts AS DATE)"},
            ),
            T.StructField(
                "y", T.IntegerType(),
                metadata={"delta.generationExpression": "year(ts)"},
            ),
            T.StructField("p", T.LongType()),
        ])

        fdict, file_rows = {}, {}
        for i in range(n_files):
            day = data.draw(
                st.integers(0, 730), label=f"day{i}"
            )  # 2 years
            secs = data.draw(
                st.lists(
                    st.integers(0, 86_399), min_size=1, max_size=4
                ),
                label=f"secs{i}",
            )
            p_val = data.draw(
                st.one_of(st.none(), st.integers(-9, 9)), label=f"p{i}"
            )
            rows = []
            for s in secs:
                ts = self._dt(day * 86_400 + s)
                rows.append({
                    "ts": ts, "gd": ts.date(), "y": ts.year, "p": p_val,
                })
            d0 = rows[0]["ts"]
            pv = {
                "gd": d0.strftime("%Y-%m-%d"),
                "y": str(d0.year),
                "p": None if p_val is None else str(p_val),
            }
            if rnd.random() < 0.1:
                pv.pop("p", None)  # missing pv key: unjudgeable on p
            add = {"partitionValues": pv}
            if rnd.random() < 0.5:  # ts stats on a coin flip
                iso = [r["ts"].strftime("%Y-%m-%dT%H:%M:%S") for r in rows]
                add["stats"] = _json.dumps({
                    "numRecords": len(rows),
                    "minValues": {"ts": min(iso)},
                    "maxValues": {"ts": max(iso)},
                    "nullCount": {"ts": 0},
                })
            fdict[f"f{i}"] = add
            file_rows[f"f{i}"] = rows

        snap = self._FakeSnap(fdict, schema)
        snap.partition_columns = ["gd", "y", "p"]
        pred = self._render_part(ast, rnd)
        kept = skip_files(snap, pred)
        for path, rows in file_rows.items():
            if any(self._eval_part(ast, r) is True for r in rows):
                assert path in kept, (
                    f"UNSOUND PRUNE (partition/generated): {path}\n"
                    f"predicate: {pred!r}\nadd: {fdict[path]!r}\n"
                    f"rows: {rows!r}"
                )


# =====================================================================
# VERDICT r13 #5: log-replay differential fuzz. The predicate-scanner
# fuzzer closed its bug class for good; the next highest-risk pure
# function is snapshot reconstruction over mixed log layouts. Generate
# random commit histories (adds/removes) interleaved with layout events
# — classic / multi-part / v2 checkpoints, compacted ranges, version
# checksums, retention cleanup — and assert against the naive model
# (a pure-Python replay of the ORIGINAL JSON commits, recorded as each
# is written, immune to every layout artifact):
#
#   1. SOUNDNESS: any version _load_snapshot CAN reconstruct matches
#      the model exactly (file set + sizes) — a checkpoint, compaction,
#      or cleanup must never change what a surviving version contains.
#   2. AVAILABILITY: while no log file has been deleted, EVERY version
#      loads; the latest version ALWAYS loads, even after cleanup.
#   3. _next_version never collides: after every layout event it still
#      resolves to len(history), even when cleanup removed the JSON
#      tail behind the checkpoint (the S36 invisible-commit class).
# =====================================================================
class TestLogReplayDifferentialFuzz:
    _SCHEMA_STR = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )

    @staticmethod
    def _ts(v):
        return 1_600_000_000_000 + v * 1000

    def _meta(self, conf):
        return {"metaData": {
            "id": "fuzz-table", "format": {
                "provider": "parquet", "options": {},
            },
            "schemaString": self._SCHEMA_STR,
            "partitionColumns": [], "configuration": dict(conf),
            "createdTime": self._ts(0),
        }}

    def _commit_lines(self, v, ops, policy, conf):
        import json as _json

        lines = [_json.dumps({"commitInfo": {"timestamp": self._ts(v)}})]
        if v == 0:
            if policy == "v2":
                proto = {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            else:
                proto = {"minReaderVersion": 1, "minWriterVersion": 2}
            lines.append(_json.dumps({"protocol": proto}))
            lines.append(_json.dumps(self._meta(conf)))
        for kind, arg in ops:
            if kind in ("add", "remove", "dv"):
                p = f"part-{arg:05d}.parquet"
            if kind == "add":
                lines.append(_json.dumps({"add": {
                    "path": p, "partitionValues": {}, "size": 100 + arg,
                    "modificationTime": self._ts(v), "dataChange": True,
                }}))
            elif kind == "remove":
                lines.append(_json.dumps({"remove": {
                    "path": p, "deletionTimestamp": self._ts(v),
                    "dataChange": True,
                }}))
            elif kind == "dv":
                # re-add of a LIVE file with an inline deletion vector —
                # a checkpoint/compaction that drops the descriptor
                # resurrects the deleted rows (the _ckpt_add_row class)
                lines.append(_json.dumps({"add": {
                    "path": p, "partitionValues": {}, "size": 100 + arg,
                    "modificationTime": self._ts(v), "dataChange": False,
                    "deletionVector": {
                        "storageType": "i",
                        "pathOrInlineDv": f"inline{v}",
                        "offset": 0, "sizeInBytes": 8,
                        "cardinality": 1 + (v % 3),
                    },
                }}))
            elif kind == "conf":
                lines.append(_json.dumps(self._meta(arg)))
            elif kind == "domain":
                name, removed = arg
                lines.append(_json.dumps({"domainMetadata": {
                    "domain": name,
                    "configuration": _json.dumps({"at": v}),
                    "removed": removed,
                }}))
            elif kind == "txn":
                lines.append(_json.dumps({"txn": {
                    "appId": arg, "version": v,
                    "lastUpdated": self._ts(v),
                }}))
        return lines

    @given(data=st.data())
    @settings(
        max_examples=int(os.environ.get("LOGFUZZ_EXAMPLES", "60")),
        deadline=None,
    )
    def test_replay_matches_naive_json_model(self, data, tmp_path_factory):
        import json as _json

        import ballista_delta_spark.sources.delta as D

        tbl = str(tmp_path_factory.mktemp("logfuzz"))
        log = os.path.join(tbl, "_delta_log")
        os.makedirs(log)

        policy = data.draw(
            st.sampled_from(["classic", "classic", "v2"]), label="policy"
        )
        n_commits = data.draw(st.integers(2, 8), label="n_commits")

        base_conf = (
            {"delta.checkpointPolicy": "v2"} if policy == "v2" else {}
        )
        live: dict[str, tuple[int, int | None]] = {}
        conf: dict[str, str] = dict(base_conf)
        domains: dict[str, str] = {}
        txns: dict[str, int] = {}
        model: list[dict] = []
        next_fid = 0
        cleaned = False
        checkpointed_at: list[int] = []

        def snap_state(snap):
            import json as _json2

            return {
                "files": {
                    p: (
                        a.get("size"),
                        (a.get("deletionVector") or {}).get("cardinality")
                        if a.get("deletionVector") else None,
                    )
                    for p, a in snap.files.items()
                },
                "conf": dict(snap.configuration),
                "domains": {
                    d: _json2.loads(c)["at"]
                    for d, c in snap.domain_metadata.items()
                    if d.startswith("fuzz.")
                },
                "txns": dict(snap.app_transactions),
            }

        def check_all():
            # soundness on every version + availability per the rules
            for v, want in enumerate(model):
                try:
                    snap = D._load_snapshot(tbl, version=v)
                except Exception:
                    assert cleaned or (
                        v < len(model) - 1
                        and any(c > v for c in checkpointed_at)
                        and not os.path.exists(D._version_file(log, v))
                    ), f"v{v} must load (no log file was ever deleted)"
                    continue
                got = snap_state(snap)
                assert got == want, (
                    f"REPLAY DIVERGED at v{v}:\ngot  {got}\nwant {want}"
                )
            latest = D._load_snapshot(tbl)
            assert latest.version == len(model) - 1
            assert snap_state(latest) == model[-1]

        def record():
            model.append({
                "files": dict(live), "conf": dict(conf),
                "domains": dict(domains), "txns": dict(txns),
            })

        for v in range(n_commits):
            ops = []
            n_ops = data.draw(st.integers(1, 3), label=f"nops{v}")
            for _ in range(n_ops):
                kind = data.draw(st.sampled_from(
                    ["add", "add", "add", "remove", "dv", "conf",
                     "domain", "txn"]
                ), label=f"kind{v}")
                if kind == "remove" and live:
                    victim = data.draw(
                        st.sampled_from(sorted(live)), label=f"vic{v}"
                    )
                    ops.append(("remove", int(victim[5:10])))
                    del live[victim]
                elif kind == "dv" and live:
                    victim = data.draw(
                        st.sampled_from(sorted(live)), label=f"dvv{v}"
                    )
                    fid = int(victim[5:10])
                    ops.append(("dv", fid))
                    live[victim] = (100 + fid, 1 + (v % 3))
                elif kind == "conf":
                    conf = dict(base_conf)
                    conf["fuzz.key"] = str(v)
                    ops.append(("conf", dict(conf)))
                elif kind == "domain":
                    name = data.draw(st.sampled_from(
                        ["fuzz.domA", "fuzz.domB"]
                    ), label=f"dom{v}")
                    removed = data.draw(st.booleans(), label=f"domrm{v}")
                    ops.append(("domain", (name, removed)))
                    if removed:
                        domains.pop(name, None)
                    else:
                        domains[name] = v
                elif kind == "txn":
                    app = data.draw(st.sampled_from(
                        ["appX", "appY"]
                    ), label=f"app{v}")
                    ops.append(("txn", app))
                    txns[app] = v
                else:  # add (also the remove/dv fallback on empty table)
                    ops.append(("add", next_fid))
                    live[f"part-{next_fid:05d}.parquet"] = (
                        100 + next_fid, None,
                    )
                    next_fid += 1
            with open(D._version_file(log, v), "w") as fh:
                fh.write(
                    "\n".join(self._commit_lines(v, ops, policy, conf))
                    + "\n"
                )
            record()
            assert D._next_version(log) == v + 1

            event = data.draw(st.sampled_from([
                "none", "none", "checkpoint", "multipart", "compact",
                "crc", "cleanup",
            ]), label=f"event{v}")
            if event in ("checkpoint", "multipart"):
                if policy == "v2":
                    D.create_checkpoint(tbl, checkpoint_format="v2")
                    # Spec-legal variant: the same v2-spec manifest under
                    # CLASSIC naming (listing-less discovery compat). The
                    # replay must resolve its sidecars identically — the
                    # kind-gated sidecar pass replayed this shape to zero
                    # adds (r14 fix).
                    if data.draw(st.booleans(), label=f"clsname{v}"):
                        import glob as _glob

                        cks = _glob.glob(os.path.join(
                            log, f"{v:020d}.checkpoint.*-*.parquet"
                        ))
                        if cks:
                            os.rename(cks[-1], os.path.join(
                                log, f"{v:020d}.checkpoint.parquet"
                            ))
                elif event == "multipart":
                    D.create_checkpoint(tbl, parts=2)
                else:
                    D.create_checkpoint(tbl)
                checkpointed_at.append(v)
            elif event == "compact" and v >= 1:
                # a contiguous range whose JSONs all survive
                lo_ok = [
                    s for s in range(0, v)
                    if all(
                        os.path.exists(D._version_file(log, u))
                        for u in range(s, v + 1)
                    )
                ]
                if lo_ok:
                    start = data.draw(
                        st.sampled_from(lo_ok), label=f"cstart{v}"
                    )
                    D.compact_log(tbl, start, v)
            elif event == "crc":
                try:
                    D.write_version_checksum(tbl, v)
                except Exception:
                    pass  # checksum is advisory; never required
            elif event == "cleanup" and checkpointed_at:
                if D.cleanup_log(tbl, retention_ms=0):
                    cleaned = True
            assert D._next_version(log) == v + 1, (
                f"version collision after {event} at v{v}"
            )

        check_all()

        # post-battery append probe: the next hand-written commit lands
        # at _next_version and the latest snapshot reflects it exactly
        v = D._next_version(log)
        assert v == n_commits
        ops = [("add", next_fid)]
        live[f"part-{next_fid:05d}.parquet"] = (100 + next_fid, None)
        with open(D._version_file(log, v), "w") as fh:
            fh.write(
                "\n".join(self._commit_lines(v, ops, policy, conf)) + "\n"
            )
        record()
        check_all()


class TestDmlDifferentialFuzz:
    """r14 (post-close): the differential-fuzz method extended from log
    replay to the DML surface. Random sequences of
    append / DELETE / UPDATE (each cow AND dv) / MERGE / OPTIMIZE /
    checkpoint / VACUUM / RESTORE run against a real table while a pure
    dict model applies the same semantics; after every op the table must
    read back exactly as the model, and at the end the CDF stream (when
    enabled) must FOLD back to the final state — one invariant covering
    change-type completeness across every DML path at once."""

    _DDL = "id long, grp int, val long"

    @staticmethod
    def _match_ids(model, shape):
        kind = shape[0]
        if kind == "grp_eq":
            return [i for i, t in model.items() if t[0] == shape[1]]
        if kind == "id_mod":
            _, k, r = shape
            return [i for i in model if i % k == r]
        _, x = shape  # val_gt
        return [i for i, t in model.items() if t[1] > x]

    @staticmethod
    def _cond(shape):
        kind = shape[0]
        if kind == "grp_eq":
            return f"grp = {shape[1]}"
        if kind == "id_mod":
            return f"id % {shape[1]} = {shape[2]}"
        return f"val > {shape[1]}"

    @given(data=st.data())
    @settings(
        max_examples=int(os.environ.get("DMLFUZZ_EXAMPLES", "12")),
        deadline=None,
    )
    def test_dml_matches_model_and_cdf_folds(
        self, data, spark, tmp_path_factory
    ):
        import ballista_delta_spark.sources.delta as D
        from ballista_delta_spark.sources.delta_dml import (
            delete_delta, merge_delta, replace_where_delta, update_delta,
        )

        tbl = os.path.join(str(tmp_path_factory.mktemp("dmlfuzz")), "t")
        partitioned = data.draw(st.booleans(), label="partitioned")
        cdf = data.draw(st.booleans(), label="cdf")

        # model value = (grp, val, extra); extra exists in the table only
        # once the schema has evolved (merge_schema append)
        model = {i: (i % 3, i * 10, None) for i in range(12)}
        next_id = 12
        evolved = [False]

        def df_of(rows):
            if evolved[0]:
                return spark.createDataFrame(
                    [
                        (i, g, v, x)
                        for i, (g, v, x) in sorted(rows.items())
                    ],
                    self._DDL + ", extra string",
                )
            return spark.createDataFrame(
                [(i, g, v) for i, (g, v, _) in sorted(rows.items())],
                self._DDL,
            )

        D.write_delta(
            df_of(model), tbl,
            partition_by=["grp"] if partitioned else None,
        )
        if cdf:
            D.alter_properties(
                spark, tbl, {"delta.enableChangeDataFeed": "true"}
            )
        baseline = dict(model)
        base_version = D._load_snapshot(tbl).version

        def check():
            rows = D.read_delta(spark, tbl).collect()
            if evolved[0]:
                got = {(r.id, r.grp, r.val, r.extra) for r in rows}
                want = {
                    (i, g, v, x) for i, (g, v, x) in model.items()
                }
            else:
                got = {(r.id, r.grp, r.val) for r in rows}
                want = {(i, g, v) for i, (g, v, _) in model.items()}
            assert got == want, (
                f"DIVERGED:\n only table: {sorted(got - want)}"
                f"\n only model: {sorted(want - got)}"
            )

        restore_points = []  # (version, model snapshot, evolved flag)
        vacuumed = False
        shapes = st.one_of(
            st.tuples(st.just("grp_eq"), st.integers(0, 3)),
            st.tuples(
                st.just("id_mod"), st.integers(2, 4), st.integers(0, 3)
            ),
            st.tuples(st.just("val_gt"), st.integers(-50, 400)),
        )
        n_ops = data.draw(st.integers(3, 6), label="n_ops")
        for step in range(n_ops):
            op = data.draw(st.sampled_from([
                "append", "delete", "delete", "update", "update", "merge",
                "merge_del", "replace_where", "evolve",
                "optimize", "checkpoint", "vacuum", "restore",
            ]), label=f"op{step}")
            dml_mode = data.draw(
                st.sampled_from(["cow", "dv"]), label=f"mode{step}"
            )
            if op == "append":
                fresh = {
                    next_id + j: (
                        (next_id + j) % 4, (next_id + j) * 10,
                        f"x{next_id + j}" if evolved[0] else None,
                    )
                    for j in range(data.draw(
                        st.integers(1, 3), label=f"napp{step}"
                    ))
                }
                next_id += len(fresh)
                D.write_delta(df_of(fresh), tbl, mode="append")
                model.update(fresh)
            elif op == "delete":
                shape = data.draw(shapes, label=f"pred{step}")
                delete_delta(spark, tbl, self._cond(shape), mode=dml_mode)
                for i in self._match_ids(model, shape):
                    del model[i]
            elif op == "update":
                shape = data.draw(shapes, label=f"pred{step}")
                bump = data.draw(
                    st.sampled_from([1000, -77]), label=f"bump{step}"
                )
                update_delta(
                    spark, tbl, self._cond(shape),
                    {"val": f"val + {bump}"}, mode=dml_mode,
                )
                for i in self._match_ids(model, shape):
                    g, v, x = model[i]
                    model[i] = (g, v + bump, x)
            elif op == "merge":
                hit = sorted(model)[:2]
                src = {
                    i: (model[i][0], model[i][1] + 5, model[i][2])
                    for i in hit
                }
                src[next_id] = (
                    next_id % 4, next_id * 10,
                    f"x{next_id}" if evolved[0] else None,
                )
                ins_id = next_id
                next_id += 1
                merge_delta(
                    spark, tbl, df_of(src), "t.id = s.id",
                    matched_update={"val": "s.val"},
                    not_matched_insert=True,
                    mode=dml_mode,
                )
                for i in hit:
                    model[i] = (
                        model[i][0], model[i][1] + 5, model[i][2]
                    )
                model[ins_id] = src[ins_id]
            elif op == "merge_del":
                # WHEN MATCHED THEN DELETE, no insert clause: source
                # names the two lowest ids (plus one absent id that must
                # be a no-op without the insert clause)
                hit = sorted(model)[:2]
                src = {i: model[i] for i in hit}
                src[next_id] = (0, 0, None)
                next_id += 1
                merge_delta(
                    spark, tbl, df_of(src), "t.id = s.id",
                    matched_delete=True,
                    not_matched_insert=False,
                    mode=dml_mode,
                )
                for i in hit:
                    del model[i]
            elif op == "replace_where":
                # replace one grp slice with a recomputed one (the
                # backfill primitive); strict containment: every new row
                # carries the predicate's grp
                g = data.draw(st.integers(0, 3), label=f"rwg{step}")
                n_new = data.draw(st.integers(1, 2), label=f"rwn{step}")
                fresh = {
                    next_id + j: (
                        g, (next_id + j) * 10,
                        f"x{next_id + j}" if evolved[0] else None,
                    )
                    for j in range(n_new)
                }
                next_id += n_new
                replace_where_delta(
                    spark, tbl, df_of(fresh), f"grp = {g}"
                )
                for i in [i for i, t in model.items() if t[0] == g]:
                    del model[i]
                model.update(fresh)
            elif op == "evolve" and not evolved[0]:
                # merge_schema append introduces the extra column; old
                # rows read back null-filled. A later RESTORE to a
                # pre-evolution version reverts the schema (and drops
                # the evolved-period files), so the flag rides along in
                # restore_points.
                evolved[0] = True
                fresh = {
                    next_id: (next_id % 4, next_id * 10, f"x{next_id}")
                }
                next_id += 1
                D.write_delta(
                    df_of(fresh), tbl, mode="append", merge_schema=True
                )
                model.update(fresh)
            elif op == "optimize":
                D.optimize(spark, tbl, target_file_rows=8)
            elif op == "checkpoint":
                D.create_checkpoint(tbl)
            elif op == "vacuum":
                D.vacuum(tbl, retention_ms=0, spark=spark)
                # vacuumed bytes are gone: older versions are no longer
                # restorable targets, and CDF over the pre-vacuum range
                # can no longer be computed (delta-spark parity: the
                # read fails loud on the missing file — retention is
                # the guard; the 60-example sweep proved the loud
                # failure, so the folds below only run un-vacuumed)
                restore_points.clear()
                vacuumed = True
            elif op == "restore" and restore_points:
                v, snap_model, snap_evolved = data.draw(
                    st.sampled_from(restore_points), label=f"rst{step}"
                )
                D.restore_delta(tbl, v)
                model = dict(snap_model)
                evolved[0] = snap_evolved
            check()
            restore_points.append(
                (D._load_snapshot(tbl).version, dict(model), evolved[0])
            )

        if not cdf or vacuumed:
            return
        # FOLD the change feed over the baseline, two ways.
        # (1) per-commit stream (the default, delta-spark semantics):
        # group by _commit_version, apply each commit's deletions
        # (delete / update_preimage) before its insertions
        # (insert / update_postimage); the stream must replay the
        # baseline exactly to the final state.
        from collections import Counter

        ch_df = D.read_delta_changes(spark, tbl, base_version)
        use_extra = "extra" in ch_df.columns

        def mkey(i, g, v, x):
            return (i, g, v, x) if use_extra else (i, g, v)

        state = Counter(
            mkey(i, g, v, x) for i, (g, v, x) in baseline.items()
        )
        rows = ch_df.collect()
        by_version: dict[int, list] = {}
        for r in rows:
            assert r["_change_type"] in (
                "insert", "delete", "update_preimage", "update_postimage",
            ), r["_change_type"]
            assert r["_commit_version"] > base_version
            by_version.setdefault(r["_commit_version"], []).append(r)
        for v in sorted(by_version):
            batch = by_version[v]
            for r in batch:
                if r["_change_type"] in ("delete", "update_preimage"):
                    key = mkey(r.id, r.grp, r.val, getattr(r, "extra", None))
                    assert state[key] > 0, (
                        f"CDF deletes absent row {key} at v{v}"
                    )
                    state[key] -= 1
            for r in batch:
                if r["_change_type"] in ("insert", "update_postimage"):
                    state[
                        mkey(r.id, r.grp, r.val, getattr(r, "extra", None))
                    ] += 1
        want = Counter(
            mkey(i, g, v, x) for i, (g, v, x) in model.items()
        )
        assert +state == want, (
            f"CDF STREAM FOLD DIVERGED:\n fold : {sorted((+state).items())}"
            f"\n model: {sorted(want.items())}"
        )
        # (2) net=True endpoint diff: the order-free MULTISET equation
        # baseline + insertions - deletions == final state.
        fold = Counter(
            mkey(i, g, v, x) for i, (g, v, x) in baseline.items()
        )
        for r in D.read_delta_changes(
            spark, tbl, base_version, net=True
        ).collect():
            key = mkey(r.id, r.grp, r.val, getattr(r, "extra", None))
            fold[key] += (
                1 if r["_change_type"] == "insert" else -1
            )
        assert +fold == want, (
            f"CDF NET FOLD DIVERGED:\n fold : {sorted((+fold).items())}"
            f"\n model: {sorted(want.items())}"
        )

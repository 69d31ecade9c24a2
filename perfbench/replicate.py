"""The ``replicate`` workload: the daemon's write path.

A seeded generator emits a history and then one replica chunk at a
time: DiaObject, DiaSource and DiaForcedSource rows plus update records
of all six types.  From what it emitted it keeps its own model of the
final PPDB state, which :func:`check_end_state` compares with the
tables on disk after the timed loop.

Layout of the generated sky and ids: object ids are spaced so the
history spans 8 buckets of ``Promoter``'s default 1M-id width, objects
are discovered in sky patches of ``REGION_OBJECTS`` objects (one id
bucket, one level-4 geo cell each), and a chunk's rows that touch
history (new versions and about half the updates) come from one such
region.  Every chunk thus touches the same number of buckets and cells
whatever the seed.

The traffic mix is assumed, not measured: no source at hand gives
per-chunk row ratios or update rates of the real APDB replica stream.
Each assumed value is marked below.  Only the ordering of the tables
comes from the data model: DiaForcedSource is keyed by (diaObjectId,
visit, detector), one forced measurement of a known object per visit
(SURVEY.md section 1.4), while a DiaSource exists only where the object
was detected; so DiaForcedSource is the largest table.

At these sizes a chunk's latency is dominated by per-chunk
orchestration (about 90 Spark jobs), not by rows; a promote step that
turned O(table) would add little at an 8k-object history, and the
benchmark does not claim to catch one.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import tracing

MJD0 = 60000.0
T0_NS = 1_700_000_000_000_000_000
ID_STRIDE = 1000  # object i -> diaObjectId i * ID_STRIDE + 1
SRC_STRIDE = 500  # source j -> diaSourceId (j + 1) * SRC_STRIDE
HISTORY_OBJECTS = 8_000  # 40x the largest chunk
# Assumed, unverified: chunk size, rows per DiaObject row, the share of
# new versions and the update rate.  Chunks are far below a real
# ~10-minute replica chunk so a run fits its time budget.
CHUNK_MIN, CHUNK_MAX = 100, 200
REGION_OBJECTS = 500
SOURCES_PER_ROW = 2
FORCED_PER_ROW = 6  # DiaForcedSource is the largest table
NEW_VERSION_SHARE = 0.3  # of a chunk's DiaObject rows
UPDATES_PER_ROW = 0.1  # update records per DiaObject row, split evenly over the six types

OBJ_COLS = ("diaObjectId", "validityStartMjdTai", "validityEndMjdTai", "ra", "dec", "nDiaSources")
SRC_COLS = (
    "diaSourceId", "diaObjectId", "ssObjectId", "ra", "dec", "midpointMjdTai",
    "ssObjectReassocTimeMjdTai", "timeWithdrawnMjdTai",
)
FS_COLS = (
    "diaForcedSourceId", "diaObjectId", "visit", "detector", "ra", "dec",
    "midpointMjdTai", "timeWithdrawnMjdTai",
)
FS_KEY = ["diaObjectId", "visit", "detector"]
SCHEMAS = {
    "DiaObject": pa.schema(
        [("diaObjectId", pa.int64()), ("validityStartMjdTai", pa.float64()),
         ("validityEndMjdTai", pa.float64()), ("ra", pa.float64()),
         ("dec", pa.float64()), ("nDiaSources", pa.int32())]
    ),
    "DiaSource": pa.schema(
        [("diaSourceId", pa.int64()), ("diaObjectId", pa.int64()),
         ("ssObjectId", pa.int64()), ("ra", pa.float64()), ("dec", pa.float64()),
         ("midpointMjdTai", pa.float64()), ("ssObjectReassocTimeMjdTai", pa.float64()),
         ("timeWithdrawnMjdTai", pa.float64())]
    ),
    "DiaForcedSource": pa.schema(
        [("diaForcedSourceId", pa.int64()), ("diaObjectId", pa.int64()),
         ("visit", pa.int64()), ("detector", pa.int64()), ("ra", pa.float64()),
         ("dec", pa.float64()), ("midpointMjdTai", pa.float64()),
         ("timeWithdrawnMjdTai", pa.float64())]
    ),
    "updates": pa.schema(
        [("update_time_ns", pa.int64()), ("update_order", pa.int64()),
         ("update_type", pa.string()), ("json_payload", pa.string())]
    ),
}
UPDATE_TYPES = (
    "close_diaobject_validity",
    "update_ndiasources",
    "reassign_diasource_to_diaobject",
    "reassign_diasource_to_ssobject",
    "withdraw_diasource",
    "withdraw_diaforcedsource",
)


class Generator:
    """Seeded chunks plus the model of the state they must produce."""

    def __init__(self, seed: int, history_objects: int = HISTORY_OBJECTS) -> None:
        self.rng = np.random.default_rng(seed)
        self.history_objects = history_objects
        self.n_obj = 0
        self.n_src = 0
        self.n_fs = 0
        self.closed: set[int] = set()
        self.obj = pd.DataFrame({c: pd.Series(dtype="float64") for c in OBJ_COLS})
        self.src = pd.DataFrame({c: pd.Series(dtype="float64") for c in SRC_COLS})
        self.fs = pd.DataFrame({c: pd.Series(dtype="float64") for c in FS_COLS})
        self.chunk_ids: list[int] = []

    # -- emission ----------------------------------------------------------

    def _new_objects(self, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``n`` new objects starting a fresh region; each region is a
        patch of sky centred in one level-4 geo cell and its ids sit
        in one id bucket."""
        start = -(-self.n_obj // REGION_OBJECTS) * REGION_OBJECTS
        idx = np.arange(start, start + n)
        self.n_obj = start + n
        ra = np.empty(n)
        dec = np.empty(n)
        region = idx // REGION_OBJECTS
        for r in np.unique(region):
            m = region == r
            cx, cy = self.rng.integers(0, 16), self.rng.integers(2, 14)
            ra[m] = (cx + 0.5) * 22.5 + self.rng.normal(0, 1.0, m.sum())
            dec[m] = (cy + 0.5) * 11.25 - 90.0 + self.rng.normal(0, 1.0, m.sum())
        return idx * ID_STRIDE + 1, np.mod(ra, 360.0), np.clip(dec, -89.0, 89.0)

    def _rows(self, cid: int, ids, ra, dec, start) -> dict[str, pd.DataFrame]:
        """DiaObject rows plus their sources and forced sources."""
        n = len(ids)
        obj = pd.DataFrame(
            {
                "diaObjectId": ids,
                "validityStartMjdTai": start,
                "validityEndMjdTai": np.nan,
                "ra": ra,
                "dec": dec,
                "nDiaSources": self.rng.integers(1, 20, n).astype("int32"),
            }
        )
        rep = np.repeat(np.arange(n), SOURCES_PER_ROW)
        m = len(rep)
        src = pd.DataFrame(
            {
                "diaSourceId": (np.arange(self.n_src, self.n_src + m) + 1) * SRC_STRIDE,
                "diaObjectId": ids[rep],
                "ssObjectId": np.nan,
                "ra": ra[rep] + self.rng.normal(0, 1e-4, m),
                "dec": dec[rep] + self.rng.normal(0, 1e-4, m),
                "midpointMjdTai": start[rep],
                "ssObjectReassocTimeMjdTai": np.nan,
                "timeWithdrawnMjdTai": np.nan,
            }
        )
        self.n_src += m
        rep = np.repeat(np.arange(n), FORCED_PER_ROW)
        k = len(rep)
        # a row's forced sources sit on distinct visits of this chunk; an
        # object with two versions in one chunk gets distinct visits too
        nth = pd.Series(ids).groupby(ids).cumcount().to_numpy()[rep]
        fs = pd.DataFrame(
            {
                "diaForcedSourceId": np.arange(self.n_fs, self.n_fs + k) + 1,
                "diaObjectId": ids[rep],
                "visit": cid * 100 + FORCED_PER_ROW * nth + np.tile(np.arange(FORCED_PER_ROW), n),
                "detector": self.rng.integers(0, 189, k),
                "ra": ra[rep],
                "dec": dec[rep],
                "midpointMjdTai": start[rep],
                "timeWithdrawnMjdTai": np.nan,
            }
        )
        self.n_fs += k
        return {"DiaObject": obj, "DiaSource": src, "DiaForcedSource": fs}

    def _pick(self, pool, k: int, taken: set | None = None) -> list:
        pool = [p for p in pool if taken is None or p not in taken]
        k = min(k, len(pool))
        picked = [pool[i] for i in sorted(self.rng.choice(len(pool), k, replace=False))]
        if taken is not None:
            taken.update(picked)
        return picked

    def _updates(self, cid: int, objs, new_versioned: set, src_pool, fs_pool, n_upd: int, pending: pd.DataFrame):
        """``n_upd`` update records over the six types aimed at ``objs``
        and the given source pools; no two records of one chunk patch
        the same field of the same record."""
        per = max(2, n_upd // len(UPDATE_TYPES))
        t = MJD0 + cid + 0.95
        versions = _cat(self.obj, pending)["diaObjectId"].value_counts()
        objs = sorted(objs)
        single = [
            o for o in objs
            if versions.get(o, 0) == 1 and o not in self.closed and o not in new_versioned
        ]
        live = [o for o in objs if o not in self.closed]
        taken_obj: set = set()
        taken_src: set = set()
        out: list[tuple[str, dict]] = []
        for i, o in enumerate(self._pick(single, per, taken_obj)):
            p = {"diaObjectId": int(o), "validityEndMjdTai": t}
            if i % 2 == 0:
                p["nDiaSources"] = int(self.rng.integers(1, 50))
            out.append(("close_diaobject_validity", p))
            self.closed.add(o)
        for o in self._pick([o for o in live if o not in self.closed], per, taken_obj):
            out.append(("update_ndiasources", {"diaObjectId": int(o), "nDiaSources": int(self.rng.integers(1, 50))}))
        for s in self._pick(src_pool, per, taken_src):
            to = live[int(self.rng.integers(len(live)))]
            out.append(("reassign_diasource_to_diaobject", {"diaSourceId": int(s), "diaObjectId": int(to)}))
        for s in self._pick(src_pool, per, taken_src):
            out.append(("reassign_diasource_to_ssobject", {
                "diaSourceId": int(s), "ssObjectId": int(self.rng.integers(1, 10**9)),
                "ssObjectReassocTimeMjdTai": t}))
        for s in self._pick(src_pool, per, taken_src):
            out.append(("withdraw_diasource", {"diaSourceId": int(s), "timeWithdrawnMjdTai": t}))
        for o, v, d in self._pick(fs_pool, per):
            out.append(("withdraw_diaforcedsource", {
                "diaObjectId": int(o), "visit": int(v), "detector": int(d), "timeWithdrawnMjdTai": t}))
        return out

    @staticmethod
    def _pools(objs: set, src: pd.DataFrame, fs: pd.DataFrame) -> tuple[list, list]:
        src_pool = src.loc[src["diaObjectId"].isin(objs), "diaSourceId"].tolist()
        fs_sel = fs.loc[fs["diaObjectId"].isin(objs), FS_KEY]
        return src_pool, list(fs_sel.itertuples(index=False, name=None))

    def history(self) -> dict:
        """Chunk 1: ``history_objects`` objects, a tenth of them with a
        second version (assumed), and updates aimed at the history
        itself."""
        cid = 1
        n = self.history_objects
        ids, ra, dec = self._new_objects(n)
        start = MJD0 + cid + self.rng.uniform(0, 0.8, n)
        two = np.sort(self.rng.choice(n, n // 10, replace=False))
        ids = np.concatenate([ids, ids[two]])
        ra = np.concatenate([ra, ra[two]])
        dec = np.concatenate([dec, dec[two]])
        start = np.concatenate([start, start[two] + 0.05])
        rows = self._rows(cid, ids, ra, dec, start)
        objs = set(ids.tolist())
        pools = self._pools(objs, rows["DiaSource"], rows["DiaForcedSource"])
        updates = self._updates(cid, objs, set(), *pools, int(n * UPDATES_PER_ROW), rows["DiaObject"])
        return self._emit(cid, rows, updates)

    def chunk(self, cid: int) -> dict:
        """A chunk of CHUNK_MIN-CHUNK_MAX DiaObject rows:
        NEW_VERSION_SHARE new versions of objects of one history region,
        the rest new objects; about half the updates aim at that
        region, the rest at this chunk's rows."""
        n = int(self.rng.integers(CHUNK_MIN, CHUNK_MAX + 1))
        w0 = int(self.rng.integers(0, self.history_objects // REGION_OBJECTS)) * REGION_OBJECTS
        window = {i * ID_STRIDE + 1 for i in range(w0, w0 + REGION_OBJECTS)}
        versioned = self._pick(sorted(window - self.closed), int(n * NEW_VERSION_SHARE))
        new_ids, ra, dec = self._new_objects(n - len(versioned))
        cur = self.obj.drop_duplicates("diaObjectId").set_index("diaObjectId")
        v_ids = np.array(versioned, dtype=np.int64)
        ids = np.concatenate([v_ids, new_ids])
        ra = np.concatenate([cur.loc[v_ids, "ra"].to_numpy(), ra])
        dec = np.concatenate([cur.loc[v_ids, "dec"].to_numpy(), dec])
        start = MJD0 + cid + self.rng.uniform(0, 0.8, len(ids))
        rows = self._rows(cid, ids, ra, dec, start)
        n_upd = max(2 * len(UPDATE_TYPES), int(n * UPDATES_PER_ROW))
        pending = rows["DiaObject"]
        hist = self._updates(
            cid, window, set(versioned), *self._pools(window, self.src, self.fs), n_upd // 2, pending
        )
        own_objs = set(new_ids.tolist())
        own = self._updates(
            cid, own_objs, set(),
            *self._pools(set(ids.tolist()), rows["DiaSource"], rows["DiaForcedSource"]),
            n_upd - n_upd // 2, pending,
        )
        return self._emit(cid, rows, hist + own)

    def _emit(self, cid: int, rows: dict, updates: list[tuple[str, dict]]) -> dict:
        upd = pd.DataFrame(
            {
                "update_time_ns": T0_NS + cid * 10**9 + np.arange(len(updates)),
                "update_order": np.arange(len(updates)),
                "update_type": [u for u, _ in updates],
                "json_payload": [json.dumps(p) for _, p in updates],
            }
        )
        self._apply(rows, updates)
        self.chunk_ids.append(cid)
        out = {t: pa.Table.from_pandas(df, schema=SCHEMAS[t], preserve_index=False) for t, df in rows.items()}
        out["updates"] = pa.Table.from_pandas(upd, schema=SCHEMAS["updates"], preserve_index=False)
        return out

    # -- model -------------------------------------------------------------

    def _apply(self, rows: dict, updates: list[tuple[str, dict]]) -> None:
        """Promotion semantics: insert, close open validities of the
        touched objects from the next version's start, then patch."""
        self.obj = _cat(self.obj, rows["DiaObject"])
        self.src = _cat(self.src, rows["DiaSource"])
        self.fs = _cat(self.fs, rows["DiaForcedSource"])
        touched = self.obj["diaObjectId"].isin(rows["DiaObject"]["diaObjectId"])
        sub = self.obj[touched].sort_values(["diaObjectId", "validityStartMjdTai"])
        nxt = sub.groupby("diaObjectId")["validityStartMjdTai"].shift(-1)
        self.obj.loc[sub.index, "validityEndMjdTai"] = sub["validityEndMjdTai"].fillna(nxt)
        by_type: dict[str, list[dict]] = {u: [] for u in UPDATE_TYPES}
        for utype, p in updates:
            by_type[utype].append(p)

        def patch(df, key, payloads, field, value=None):
            """Set ``field`` on the rows whose ``key`` a payload names
            (one payload per record within a chunk)."""
            vals = {p[key]: (p[field] if value is None else value) for p in payloads if field in p or value is not None}
            m = df[key].isin(list(vals))
            df.loc[m, field] = df.loc[m, key].map(vals)

        patch(self.obj, "diaObjectId", by_type["close_diaobject_validity"], "validityEndMjdTai")
        patch(self.obj, "diaObjectId", by_type["close_diaobject_validity"], "nDiaSources")
        patch(self.obj, "diaObjectId", by_type["update_ndiasources"], "nDiaSources")
        patch(self.src, "diaSourceId", by_type["reassign_diasource_to_diaobject"], "diaObjectId")
        ss = by_type["reassign_diasource_to_ssobject"]
        patch(self.src, "diaSourceId", ss, "ssObjectId")
        patch(self.src, "diaSourceId", ss, "ssObjectReassocTimeMjdTai")
        patch(self.src, "diaSourceId", ss, "diaObjectId", value=np.nan)
        patch(self.src, "diaSourceId", by_type["withdraw_diasource"], "timeWithdrawnMjdTai")
        keys = pd.MultiIndex.from_frame(self.fs[FS_KEY])
        vals = {
            (p["diaObjectId"], p["visit"], p["detector"]): p["timeWithdrawnMjdTai"]
            for p in by_type["withdraw_diaforcedsource"]
        }
        m = keys.isin(list(vals))
        self.fs.loc[m, "timeWithdrawnMjdTai"] = [vals[k] for k in keys[m]]

    def expected(self) -> dict[str, pd.DataFrame]:
        cur = self.obj[self.obj["validityEndMjdTai"].isna()]
        return {
            "DiaObject": self.obj,
            "DiaSource": self.src,
            "DiaForcedSource": self.fs,
            "public": cur.drop(columns=["validityEndMjdTai"]),
            "chunks": list(self.chunk_ids),
            "closed": sorted(self.closed),
        }


def _parquet_files(directory: str) -> int:
    return sum(n.endswith(".parquet") for _d, _s, names in os.walk(directory) for n in names)


def _cat(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
    """Model rows are float64 throughout: ids stay exact below 2**53
    and a patched-in NULL needs no dtype change."""
    b = b.astype("float64")
    return pd.concat([a, b], ignore_index=True) if len(a) else b.reset_index(drop=True)


def write_inputs(chunk: dict, directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, table in chunk.items():
        paths[name] = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def source_rows(chunk: dict) -> int:
    return sum(t.num_rows for t in chunk.values())


# -- end-state check -----------------------------------------------------------


def _canon(df: pd.DataFrame, cols) -> np.ndarray:
    if len(df) == 0:
        return np.empty((0, len(cols)))
    a = np.column_stack(
        [pd.to_numeric(df[c]).astype("float64").to_numpy() for c in cols]
    )
    return a[np.lexsort(a.T[::-1])]


def _diff(label: str, got: pd.DataFrame, want: pd.DataFrame, cols) -> list[str]:
    a, b = _canon(got, cols), _canon(want, cols)
    if a.shape != b.shape:
        return [f"{label}: {len(a)} rows, expected {len(b)}"]
    bad = ~((a == b) | (np.isnan(a) & np.isnan(b))).all(axis=1)
    return [f"{label}: {int(bad.sum())} rows differ"] if bad.any() else []


def check_end_state(expected: dict, actual: dict) -> list[str]:
    """Every mismatch between the generator's model and the PPDB.

    ``actual`` holds the internal tables, ``public``, ``ledger``
    (chunk id -> status) and ``staged_files`` (parquet files left in
    the staging tables)."""
    errs: list[str] = []
    errs += _diff("internal DiaObject", actual["DiaObject"], expected["DiaObject"], OBJ_COLS)
    errs += _diff("internal DiaSource", actual["DiaSource"], expected["DiaSource"], SRC_COLS)
    errs += _diff("internal DiaForcedSource", actual["DiaForcedSource"], expected["DiaForcedSource"], FS_COLS)
    pub_cols = [c for c in OBJ_COLS if c != "validityEndMjdTai"]
    errs += _diff("public snapshot", actual["public"], expected["public"], pub_cols)
    obj = actual["DiaObject"]
    cur = obj[obj["validityEndMjdTai"].isna()].drop(columns=["validityEndMjdTai"])
    errs += _diff("public vs current internal", actual["public"], cur, pub_cols)
    open_per = cur.groupby("diaObjectId").size()
    if (open_per > 1).any():
        errs.append(f"{int((open_per > 1).sum())} objects with more than one open version")
    live = set(obj["diaObjectId"]) - set(expected["closed"])
    missing = live - set(open_per.index)
    if missing:
        errs.append(f"{len(missing)} live objects without an open version")
    still_open = set(expected["closed"]) & set(open_per.index)
    if still_open:
        errs.append(f"{len(still_open)} closed objects still open")
    not_promoted = {
        c: actual["ledger"].get(c) for c in expected["chunks"] if actual["ledger"].get(c) != "PROMOTED"
    }
    if not_promoted:
        errs.append(f"chunks not PROMOTED: {not_promoted}")
    if actual["staged_files"]:
        errs.append(f"{actual['staged_files']} staged files left behind")
    return errs


def _read_current(table_root: str) -> pd.DataFrame:
    with open(os.path.join(table_root, "_CURRENT")) as f:
        version = f.read().strip()
    return pq.read_table(os.path.join(table_root, version)).to_pandas()


def read_actual(root: str) -> dict:
    """The PPDB under ``root`` read straight from its parquet files."""
    out = {t: _read_current(os.path.join(root, "internal", t)) for t in SCHEMAS if t != "updates"}
    out["public"] = _read_current(os.path.join(root, "public", "DiaObject"))
    log = _read_current(os.path.join(root, "ledger"))
    last = log.sort_values("__event_seq").groupby("apdb_replica_chunk").tail(1)
    out["ledger"] = dict(zip(last["apdb_replica_chunk"].astype(int), last["status"]))
    out["staged_files"] = sum(
        _parquet_files(os.path.join(root, "staging", t))
        for t in ("DiaObject", "DiaSource", "DiaForcedSource", "updates")
    )
    return out


# -- the closed loop -----------------------------------------------------------


class Replicator:
    """One client: store -> upload (+ staging trigger) -> promotable ->
    promote, one chunk at a time."""

    def __init__(self, spark, tracer, root: str) -> None:
        from dax_ppdb_spark.pipeline.promote import Promoter
        from dax_ppdb_spark.pipeline.upload import ChunkUploader

        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.promoter = Promoter(spark, os.path.join(root, "ppdb"))
        self.ledger = self.promoter.ledger
        self.export_root = os.path.join(root, "export")
        self.uploader = ChunkUploader(
            self.ledger,
            self.export_root,
            os.path.join(root, "bucket"),
            stage_trigger=lambda d, c: tracer.call("stage", self.promoter.stage_chunk_dir, d, c),
            exit_on_error=True,
        )

    def replicate(self, cid: int, inputs: dict[str, str]) -> None:
        """Replicate one chunk; raises on any step that misbehaves."""
        from dax_ppdb_spark.pipeline.store import store_chunk

        spark, tr = self.spark, self.tracer
        with tr.span("store"):
            tables = {t: spark.read.parquet(inputs[t]) for t in ("DiaObject", "DiaSource", "DiaForcedSource")}
            store_chunk(
                spark, self.export_root, cid, tables,
                updates=spark.read.parquet(inputs["updates"]), ledger=self.ledger,
            )
        with tr.span("upload"):
            uploaded = self.uploader.run_once()
        with tr.span("ledger"):
            ids = self.ledger.promotable_chunks()
        with tr.span("promote"):
            promoted = self.promoter.promote(ids)
        if not (uploaded == ids == promoted == [cid]):
            raise RuntimeError(f"chunk {cid}: uploaded {uploaded}, promotable {ids}, promoted {promoted}")

    def table_layout(self) -> tuple[int, int]:
        """(data files in the current versions, ``_v*``/``_tmp*`` version
        directories no ``_CURRENT`` pointer names) over every table."""
        p = self.promoter
        tables = [*p.internal.values(), *p.staging.values(), p.staging_updates, p.public_diaobject, self.ledger.table]
        files = orphans = 0
        for t in tables:
            if not os.path.isdir(t.path):
                continue
            current = t.current_version()
            for name in os.listdir(t.path):
                if name.startswith(("_v", "_tmp")) and name != current and os.path.isdir(os.path.join(t.path, name)):
                    orphans += 1
            if current:
                files += _parquet_files(os.path.join(t.path, current))
        return files, orphans

    def export_bytes(self, cid: int) -> int:
        return tracing.dir_bytes(os.path.join(self.export_root, f"chunk_{cid}"))


def run_loop(spark, tracer, root: str, seed: int, seconds: float, pids, ready) -> dict:
    """Set up the history, call ``ready()``, then replicate chunks for
    ``seconds``.

    A chunk takes 8-35 s on a shared 4-vCPU host, so a run times one
    chunk: the first after the history.  It also runs the code paths
    the history did not (closing validities and patching rows already
    in the tables) for the first time, and is 10-15% slower than the
    chunks after it."""
    from dax_ppdb_spark import metrics

    gen = Generator(seed)
    rep = Replicator(spark, tracer, root)
    t0 = time.perf_counter()
    history = gen.history()
    traced, tracer.enabled = tracer.enabled, False  # spans cover the timed loop only
    rep.replicate(1, write_inputs(history, os.path.join(root, "inputs", "chunk_1")))
    tracer.enabled = traced
    history_s = time.perf_counter() - t0
    ready()

    ops: list[dict] = []
    passes: list[float] = []  # one per chunk: its latency, or the time to its failure
    cpu_passes: list[float] = []  # CPU seconds of the same spans
    failures: list[str] = []
    cid = 1
    loop_t0 = time.perf_counter()
    first_job = tracing.last_job_id(spark)
    while time.perf_counter() - loop_t0 < seconds or not ops:
        cid += 1
        chunk = gen.chunk(cid)
        inputs = write_inputs(chunk, os.path.join(root, "inputs", f"chunk_{cid}"))
        metrics.clear()
        op = {"chunk": cid, "rows": source_rows(chunk)}
        t = time.perf_counter()
        w = tracing.write_bytes(pids)
        c = tracing.cpu_s(os.getpid())
        try:
            with tracer.span("chunk", trace=f"chunk{cid}") as sp:
                rep.replicate(cid, inputs)
        except Exception as e:  # a failed chunk leaves the state unknown
            failures.append(f"chunk {cid}: {e!r}"[:500])
            op["error"] = True
            ops.append(op)
            passes.append(time.perf_counter() - t)
            cpu_passes.append(tracing.cpu_s(os.getpid()) - c)
            break
        op["latency_s"] = time.perf_counter() - t
        cpu_passes.append(tracing.cpu_s(os.getpid()) - c)
        op["write_bytes"] = tracing.write_bytes(pids) - w  # the program's writes only
        op["span"] = sp["id"] if sp else None
        op["steps"] = {r["stage"]: r["seconds"] for r in metrics.recent(kind="timer")}
        op["filled"] = sum(int(e.get("filled", 0)) for e in rep.promoter.last_dml)
        op["updated"] = sum(int(e.get("updated", 0)) for e in rep.promoter.last_dml)
        op["export_bytes"] = rep.export_bytes(cid)
        op["ledger_files"] = _parquet_files(rep.ledger.table.data_dir())
        op["table_files"], op["orphan_dirs"] = rep.table_layout()
        ops.append(op)
        passes.append(op["latency_s"])
    loop_s = time.perf_counter() - loop_t0
    jobs = tracing.spark_jobs(spark, first_job) if tracer.enabled else []

    check_errs: list[str] = []
    if not failures:
        check_errs = check_end_state(gen.expected(), read_actual(os.path.join(root, "ppdb")))
    ppdb_bytes = tracing.dir_bytes(os.path.join(root, "ppdb"), unique_inodes=True)
    exported = sum(op.get("export_bytes", 0) for op in ops) + rep.export_bytes(1)
    return {
        "history_s": history_s,
        "ops": ops,
        "passes": passes,
        "cpu_passes": cpu_passes,
        "loop_s": loop_s,
        "loop_write_bytes": sum(op.get("write_bytes", 0) for op in ops),
        "failures": failures + check_errs,
        "checks": 1,
        "jobs": jobs,
        "ppdb_bytes": ppdb_bytes,
        "exported_bytes": exported,
        "loop_export_bytes": sum(op.get("export_bytes", 0) for op in ops),
    }

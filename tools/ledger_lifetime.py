"""Ledger lifetime proof: drive a deployment's worth of chunk
transitions through the event log and measure what the storage layer
actually pays.

The design question (`ledger.py`): over a year at the reference's
cadence (one ~10-minute replica chunk => ~52k chunks => ~210k status
transitions), does cumulative WRITE IO stay O(events) and does
per-commit latency stay flat?  The failure modes this harness would
catch:

* full-table rewrite per transition  -> bytes quadratic in chunks
  (the pre-round-10 disease);
* unbounded append file count        -> hardlink fan-out makes commit
  k cost O(k) (cured by auto_compact_files);
* compaction rewriting ALL winners   -> bytes O(chunks-ever) per
  compaction, i.e. O(N^2 / auto_compact_files) lifetime (cured by the
  terminal-status archive runs: PROMOTED/SKIPPED winners are written
  once and hardlinked forward; runs merge size-tiered).

Method: simulate poll cycles of BATCH chunks, each cycle running the
real lifecycle commits (insert EXPORTED -> UPLOADED -> STAGED ->
PROMOTED = 4 commits/cycle) and the daemons' two polls (the uploader's
EXPORTED scan after the insert, the promoter's promotable_chunks after
STAGED) against a throwaway Ledger.  Around every
commit, snapshot the version dir's inodes: bytes attributed to the
commit are the sizes of files whose inode did not exist before it —
hardlinked carry-forward files cost zero, exactly like the kernel
accounts them.  Report windowed means of commit and poll latency, new bytes and
file count, and the Spark jobs the whole run launched (the ledger is
driver-local: 0); exit non-zero under --check if a curve grows.

Usage:
    python tools/ledger_lifetime.py [N_CHUNKS] [BATCH] [AUTO_COMPACT]
        [--check]

Defaults 400 chunks / batch 8 / auto_compact_files 64 finish in a few
minutes on local[32]; the curve's shape — not its absolute scale — is
the evidence, and per-commit cost is independent of N by construction
once the curves are flat (each cycle touches only its own batch plus
the bounded compaction work).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dax_ppdb_spark.ledger import Ledger  # noqa: E402
from dax_ppdb_spark.schema.registry import ChunkStatus  # noqa: E402
from dax_ppdb_spark.session import get_spark  # noqa: E402


def _inode_sizes(data_dir: str | None) -> dict[int, int]:
    out: dict[int, int] = {}
    if data_dir is None:
        return out
    for root, _, names in os.walk(data_dir):
        for n in names:
            try:
                st = os.stat(os.path.join(root, n))
            except FileNotFoundError:
                continue
            out[st.st_ino] = st.st_size
    return out


def run(
    n_chunks: int, batch: int, auto_compact: int, ledger_path: str
) -> dict:
    spark = get_spark("ledger-lifetime")
    spark.sparkContext.setLogLevel("ERROR")
    led = Ledger(spark, ledger_path, auto_compact_files=auto_compact)
    commits: list[tuple[float, int, int]] = []  # (sec, new_bytes, files)
    polls: list[float] = []  # seconds per poll call
    jobs = spark.sparkContext._jsc.sc().statusStore()
    jobs_before = jobs.jobsList(None).size()

    def _poll(fn) -> None:
        t0 = time.time()
        fn()
        polls.append(time.time() - t0)

    def _timed(fn) -> None:
        before = _inode_sizes(led.table.data_dir())
        t0 = time.time()
        fn()
        dt = time.time() - t0
        after = _inode_sizes(led.table.data_dir())
        new = sum(sz for ino, sz in after.items() if ino not in before)
        commits.append((dt, new, led._data_file_count()))

    nxt = 1
    while nxt <= n_chunks:
        ids = list(range(nxt, min(nxt + batch, n_chunks + 1)))
        nxt = ids[-1] + 1
        _timed(lambda: led.insert_chunks(
            [{"apdb_replica_chunk": i} for i in ids]
        ))
        _poll(lambda: led.chunks_with_status(ChunkStatus.EXPORTED))
        for status in (
            ChunkStatus.UPLOADED, ChunkStatus.STAGED, ChunkStatus.PROMOTED
        ):
            _timed(lambda s=status: led.update_chunks(ids, status=s))
            if status == ChunkStatus.STAGED:
                _poll(led.promotable_chunks)
    spark_jobs = jobs.jobsList(None).size() - jobs_before

    n = len(commits)
    windows = []
    w = max(1, n // 10)
    for i in range(0, n - n % w, w):
        chunk = commits[i : i + w]
        # two polls per cycle of four commits
        window_polls = polls[i // 2 : (i + w) // 2]
        windows.append(
            {
                "commits": f"{i + 1}-{i + len(chunk)}",
                "mean_commit_s": round(sum(c[0] for c in chunk) / len(chunk), 3),
                "mean_poll_s": round(sum(window_polls) / max(1, len(window_polls)), 4),
                "new_mb": round(sum(c[1] for c in chunk) / 1e6, 3),
                "max_files": max(c[2] for c in chunk),
            }
        )
    total_mb = sum(c[1] for c in commits) / 1e6
    # event payload actually appended (4 events per chunk, ~a few
    # hundred bytes each once parquet-encoded)
    summary = {
        "n_chunks": n_chunks,
        "batch": batch,
        "auto_compact_files": auto_compact,
        "n_commits": n,
        "spark_jobs": spark_jobs,
        "total_new_mb": round(total_mb, 3),
        "mb_per_1k_events": round(total_mb / (4 * n_chunks) * 1000, 3),
        "windows": windows,
    }
    spark.stop()
    return summary


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--check"]
    check = "--check" in sys.argv[1:]
    n_chunks = int(argv[0]) if len(argv) > 0 else 400
    batch = int(argv[1]) if len(argv) > 1 else 8
    auto_compact = int(argv[2]) if len(argv) > 2 else 64
    import tempfile

    with tempfile.TemporaryDirectory(prefix="ledger_lifetime_") as tmp:
        s = run(n_chunks, batch, auto_compact, os.path.join(tmp, "ledger"))
    for w in s["windows"]:
        print(
            f"{w['commits']:>12s}  {w['mean_commit_s']:7.3f} s/commit  "
            f"{w['mean_poll_s']:7.4f} s/poll  "
            f"{w['new_mb']:8.3f} MB new  files<={w['max_files']}"
        )
    print(json.dumps({k: v for k, v in s.items() if k != "windows"}))
    if check:
        ws = s["windows"]
        early = ws[1]  # window 0 pays JVM warmup
        late = ws[-1]
        ok = True
        if late["mean_commit_s"] > 3 * early["mean_commit_s"]:
            print("FAIL: commit latency grows with lifetime", file=sys.stderr)
            ok = False
        if late["mean_poll_s"] > 3 * early["mean_poll_s"]:
            print("FAIL: poll latency grows with lifetime", file=sys.stderr)
            ok = False
        if s["spark_jobs"]:
            print("FAIL: the ledger ran Spark jobs", file=sys.stderr)
            ok = False
        if late["new_mb"] > 3 * max(early["new_mb"], 1e-6):
            print("FAIL: per-window write bytes grow with lifetime",
                  file=sys.stderr)
            ok = False
        print("CHECK " + ("OK" if ok else "FAILED"))
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

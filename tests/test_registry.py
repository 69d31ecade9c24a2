"""Mechanical contract for the verification rotation: the external
driver checks the FIRST 50 registered queries each round, so the
committed tail must hold exactly the overflow — a new query added
without resizing the tail silently pushes a head query out of the
window, which is how a regression ships unchecked."""

from __future__ import annotations

from dax_ppdb_spark import driver_queries


def test_verify_tail_sizes_head_to_the_driver_window():
    qs = driver_queries.queries()
    tail = driver_queries._VERIFY_TAIL
    assert len(tail) == len(set(tail)), "duplicate names in _VERIFY_TAIL"
    missing = [n for n in tail if n not in qs]
    assert not missing, f"_VERIFY_TAIL names not in the registry: {missing}"
    head = len(qs) - len(tail)
    assert head == 50, (
        f"head is {head}, driver window is 50 — resize _VERIFY_TAIL "
        "(tail only queries green at their last external check and "
        "unchanged this round)"
    )


def test_tail_is_actually_the_suffix():
    qs = list(driver_queries.queries())
    tail = driver_queries._VERIFY_TAIL
    assert qs[-len(tail):] == list(tail)


def test_no_session_conf_mutation_in_query_bodies():
    """Registered query functions must never mutate the CALLER's
    session conf (round-13 hygiene): concurrent `queries()` callers
    sharing one SparkSession would race on it.  Scoped mutations are
    fine — clone via `newSession()` (isolated SQLConf, shared
    SparkContext) and set the conf on the clone, as `_read_events`
    and `windowed_counts` do."""
    import inspect

    offenders = []
    for name, fn in driver_queries.all_queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue  # lambdas/partials from tools: nothing to scan
        for ln in src.splitlines():
            ln = ln.strip()
            if ln.startswith("#") or "newSession" in ln:
                continue
            if "spark.conf.set" in ln or ".sparkSession.conf.set" in ln:
                offenders.append((name, ln))
    # the clone pattern binds the clone to a separate variable, so a
    # mutation through THAT variable (e.g. `utc.conf.set`, config on a
    # session named anything but `spark`) is out of scope here by
    # design — the pin targets the shared handle the driver passes in
    assert not offenders, offenders


def test_cited_tools_exist():
    """Every ``tools/<name>.py`` that the code, the tests, the Makefile,
    README.md or COVERAGE.md cite is a file in ``tools/``: a retired
    tool must take its citations with it.  The historical records
    (BASELINE.md, the round reports, CHANGES.md, ROADMAP.md) keep the
    names they had when written and are not scanned."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    sources = [*(repo / "dax_ppdb_spark").rglob("*.py"), *(repo / "tests").rglob("*.py")]
    sources += [repo / n for n in ("Makefile", "README.md", "COVERAGE.md")]
    missing = sorted(
        (str(p.relative_to(repo)), name)
        for p in sources
        for name in set(re.findall(r"tools/(\w+)\.py", p.read_text()))
        if not (repo / "tools" / f"{name}.py").is_file()
    )
    assert not missing, missing

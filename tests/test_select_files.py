"""Property tests for the file-pruning walker ``TableMeta._select_files``
(Spark-free): random manifests whose segments are written by
``_write_manifest``, mixing bucket specs, missing stats, pre-upgrade
segment references and v1 inline descriptors.

* Against a brute-force oracle: a file of spec ``s`` and bucket ``b`` can
  hold a key sought in ``(q, bq)`` iff some hash ``h`` has ``h % s == b``
  and ``h % q == bq`` (checked by enumeration, not by the gcd rule) and a
  sought interval overlaps the file's key range; the walker returns
  exactly those entries that also pass the event-time floor, in manifest
  order.
* On single-spec point lookups it returns exactly what the lookup file
  rule returned before the walker (kept below as the reference).
"""

from hypothesis import HealthCheck, given, settings, strategies as st

from cfe_39_spark.sources.meta import TableMeta, bucket_of

KEYS = [f"doc-{i:03d}" for i in range(40)]
SPECS = [1, 2, 3, 4, 6, 8, 12]  # non-divisible pairs too (a rebucket 4 -> 6)


def _entry(i: int, spec: int | None, bucket: int, lo, hi, et) -> dict:
    e = {
        "path": f"data/f{i}.parquet",
        "bucket": bucket,
        "rows": 1,
        "min_doc_id": lo,
        "max_doc_id": hi,
        "max_event_time": et,
        "schema_version": 1,
        "kind": "delta" if i % 2 else "base",
    }
    if spec is not None:
        e["spec_nb"] = spec
    return e


key_bound = st.one_of(st.none(), st.sampled_from(KEYS))
entry_st = st.tuples(
    st.one_of(st.none(), st.sampled_from(SPECS)),  # None: unstamped (legacy)
    st.integers(0, 10**6),  # bucket seed
    key_bound,
    key_bound,
    st.one_of(st.none(), st.integers(0, 100)),  # max_event_time
)
query_st = st.tuples(
    st.sampled_from(SPECS), st.integers(0, 10**6), key_bound, key_bound
)


def _build(t: TableMeta, raw: list, n_segments: int, legacy: int, inline: bool,
           strip: list[bool]) -> tuple[dict, list[dict]]:
    entries = []
    for i, (spec, seed, lo, hi, et) in enumerate(raw):
        if lo is not None and hi is not None and lo > hi:
            lo, hi = hi, lo
        entries.append(_entry(i, spec, seed % (spec or legacy), lo, hi, et))
    snap: dict = {"n_buckets": 12, "legacy_spec_nb": legacy}
    if inline:
        snap["files"] = entries
        return snap, entries
    refs = []
    for k in range(n_segments):
        part = entries[k::n_segments]
        if not part:
            continue
        ref = t._write_manifest(k, part)
        if strip[k % len(strip)]:
            # a reference written before the segment aggregates landed
            for agg in ("buckets", "specs", "min_doc_id", "max_doc_id", "max_event_time"):
                ref.pop(agg)
        refs.append((ref, part))
    snap["manifests"] = [r for r, _ in refs]
    return snap, [e for _, part in refs for e in part]


def _could_hold(e: dict, legacy: int, q: int, bq: int, lo, hi) -> bool:
    s = e.get("spec_nb") or legacy
    if not any(h % s == e["bucket"] and h % q == bq for h in range(s * q)):
        return False
    fmin, fmax = e["min_doc_id"], e["max_doc_id"]
    if fmin is None or fmax is None:
        return True
    return (lo is None or lo <= fmax) and (hi is None or hi >= fmin)


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    raw=st.lists(entry_st, min_size=0, max_size=25),
    queries=st.one_of(st.none(), st.lists(query_st, min_size=0, max_size=5)),
    floor=st.one_of(st.none(), st.integers(0, 100)),
    n_segments=st.integers(1, 4),
    legacy=st.sampled_from([2, 4, 12]),
    inline=st.booleans(),
    strip=st.lists(st.booleans(), min_size=1, max_size=4),
)
def test_select_files_matches_brute_force_oracle(
    tmp_path_factory, raw, queries, floor, n_segments, legacy, inline, strip
):
    t = TableMeta(str(tmp_path_factory.mktemp("select")))
    snap, ordered = _build(t, raw, n_segments, legacy, inline, strip)
    keys = None
    if queries is not None:
        keys = {}
        for q, seed, lo, hi in queries:
            keys.setdefault((q, seed % q), []).append((lo, hi))

    def oracle(e: dict) -> bool:
        et = e["max_event_time"]
        if floor is not None and et is not None and et < floor:
            return False
        return keys is None or any(
            _could_hold(e, legacy, q, bq, lo, hi)
            for (q, bq), ivs in keys.items()
            for lo, hi in ivs
        )

    got = t._select_files(snap, keys, min_event_time=floor)
    assert got == [e for e in ordered if oracle(e)]


def _parent_lookup_rule(t: TableMeta, snap: dict, doc_ids: list[str]) -> list[dict]:
    """The lookup file selection before ``_select_files``: the
    ``_files_for_buckets`` segment and bucket pass, then ``lookup``'s
    per-file min/max loop over the keys hashing into the file's bucket."""
    nb = snap["n_buckets"]
    legacy = snap.get("legacy_spec_nb") or nb
    key_bucket = {d: bucket_of(d, nb) for d in set(doc_ids)}
    wanted = set(key_bucket.values())
    ids = sorted(key_bucket)
    lo, hi = ids[0], ids[-1]

    def wanted_under(s: int) -> set[int]:
        return {b % s for b in wanted}

    def entry_hit(e: dict) -> bool:
        return e["bucket"] in wanted_under(e.get("spec_nb") or legacy)

    if "manifests" not in snap:
        cands = [e for e in snap["files"] if entry_hit(e)]
    else:
        cands = []
        for ref in snap["manifests"]:
            bs = ref.get("buckets")
            if bs is not None:
                ref_specs = {s or legacy for s in (ref.get("specs") or [0])}
                if all(wanted_under(s).isdisjoint(bs) for s in ref_specs):
                    continue
            rmin, rmax = ref.get("min_doc_id"), ref.get("max_doc_id")
            if rmin is not None and rmax is not None and (rmax < lo or rmin > hi):
                continue
            cands.extend(e for e in t._load_manifest(ref) if entry_hit(e))
    keep = []
    for e in cands:
        s = e.get("spec_nb") or legacy
        cand = [d for d, b in key_bucket.items() if b % s == e["bucket"]]
        if e["min_doc_id"] is None or e["max_doc_id"] is None:
            keep.append(e)
        elif any(e["min_doc_id"] <= d <= e["max_doc_id"] for d in cand):
            keep.append(e)
    return keep


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    nb=st.sampled_from([1, 2, 4, 8, 16]),
    raw=st.lists(
        st.tuples(st.booleans(), st.integers(0, 10**6), key_bound, key_bound),
        min_size=0, max_size=25,
    ),
    doc_ids=st.lists(st.sampled_from(KEYS), min_size=1, max_size=10),
    n_segments=st.integers(1, 4),
    inline=st.booleans(),
)
def test_single_spec_point_lookup_keeps_the_parent_rule(
    tmp_path_factory, nb, raw, doc_ids, n_segments, inline
):
    t = TableMeta(str(tmp_path_factory.mktemp("lookup")))
    entries = []
    for i, (stamped, seed, lo, hi) in enumerate(raw):
        if lo is not None and hi is not None and lo > hi:
            lo, hi = hi, lo
        entries.append(_entry(i, nb if stamped else None, seed % nb, lo, hi, None))
    snap: dict = {"n_buckets": nb}
    if inline:
        snap["files"] = entries
    else:
        snap["manifests"] = [
            t._write_manifest(k, entries[k::n_segments])
            for k in range(n_segments)
            if entries[k::n_segments]
        ]
    keys: dict = {}
    for d in sorted(set(doc_ids)):
        keys.setdefault((nb, bucket_of(d, nb)), []).append((d, d))
    assert t._select_files(snap, keys) == _parent_lookup_rule(t, snap, doc_ids)

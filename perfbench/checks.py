"""Output checks. Each returns a list of problems; empty means correct.

Export: the packaged zip's SHA-256 matches its checksum file, the CSVs
are exactly the non-empty reports, every row ends with the facility
identity read from the warehouse files, every header matches the
recorded one, and, for seeds with recorded digests, per-report row
counts and order-independent row digests match.

Graph: connected components equal a union-find over the generated edges;
PageRank, personalized PageRank and HITS match a numpy power iteration
with the same round count within ``RTOL``/``ATOL``.
"""

from __future__ import annotations

import csv
import hashlib
import io
import os
import zipfile

#: tolerance for the floating-point graph scores: sums run in another
#: order on each side, so the last few ulps of a double may differ
RTOL = 1e-9
ATOL = 1e-15

DAMPING = 0.85


# ---------------------------------------------------------------- export


def facility_identity(warehouse: str) -> tuple[str, str, str, str]:
    """The four appended values, read from the warehouse parquet the
    same way the reference's two lookup queries define them: the lowest
    location_id tagged 'Facility Location', and the lowest 'hmiscode'
    value with spaces and underscores stripped."""
    import pyarrow.parquet as pq

    def rows(table):
        return pq.read_table(os.path.join(warehouse, f"{table}.parquet")).to_pylist()

    tags = {
        r["location_tag_id"]
        for r in rows("mamba_fact_location_tag")
        if r["name"] == "Facility Location"
    }
    tagged = {
        r["location_id"]
        for r in rows("mamba_fact_location_tag_map")
        if r["location_tag_id"] in tags
    }
    loc = min(
        (r for r in rows("mamba_dim_location") if r["location_id"] in tagged),
        key=lambda r: r["location_id"],
    )
    types = {
        r["location_attribute_type_id"]
        for r in rows("mamba_fact_location_attribute_type")
        if r["name"] == "hmiscode"
    }
    code = min(
        r["value_reference"]
        for r in rows("mamba_fact_location_attribute")
        if r["attribute_type_id"] in types
    )
    code = code.replace(" ", "").replace("_", "")
    return loc["state_province"], loc["city_village"], loc["name"], code


def read_package(out_dir: str) -> tuple[dict[str, bytes], list[str], int]:
    """Open ``*_packaged18.zip``: returns CSV name → bytes, problems,
    and the inner zip's size."""
    problems = []
    packages = [f for f in os.listdir(out_dir) if f.endswith("_packaged18.zip")]
    if len(packages) != 1:
        return {}, [f"expected one *_packaged18.zip in {out_dir}, found {packages}"], 0
    with zipfile.ZipFile(os.path.join(out_dir, packages[0])) as outer:
        names = outer.namelist()
        inner_name = next((n for n in names if n.endswith(".zip")), None)
        sum_name = next((n for n in names if n.endswith("_checksum.txt")), None)
        if inner_name is None or sum_name is None or len(names) != 2:
            return {}, [f"package holds {names}, expected an inner zip and a checksum"], 0
        inner = outer.read(inner_name)
        recorded = outer.read(sum_name).decode().strip()
    if hashlib.sha256(inner).hexdigest() != recorded:
        problems.append("inner zip SHA-256 does not match the checksum file")
    with zipfile.ZipFile(io.BytesIO(inner)) as zf:
        csvs = {n: zf.read(n) for n in zf.namelist()}
    return csvs, problems, len(inner)


def report_digest(data: bytes) -> tuple[list[str], list[list[str]], dict]:
    """Header, rows, and {rows, sha256}: the digest is over the sorted
    rows, so it does not depend on row order."""
    table = list(csv.reader(io.StringIO(data.decode())))
    header, rows = table[0], table[1:]
    h = hashlib.sha256()
    for line in sorted("\x1f".join(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return header, rows, {"rows": len(rows), "sha256": h.hexdigest()}


def check_export(unit: dict, warehouse: str, expected: dict, seed: int) -> tuple[list[str], dict]:
    """Problems with one export, and its sink/packaging sizes."""
    csvs, problems, inner_size = read_package(unit["out"])
    identity = facility_identity(warehouse)
    written = {r: name for r, name in unit["written"].items() if name}
    if unit["failed"]:
        problems.append(f"reports failed: {unit['failed']}")
    if set(csvs) != set(written.values()):
        problems.append(f"CSVs {sorted(csvs)} != non-empty reports {sorted(written.values())}")
    digests, headers, rows_total, bytes_total = {}, {}, 0, 0
    for report, name in sorted(written.items()):
        if name not in csvs:
            continue
        header, rows, digest = report_digest(csvs[name])
        digests[report], headers[report] = digest, header
        rows_total += digest["rows"]
        bytes_total += len(csvs[name])
        want_header = expected.get("headers", {}).get(report)
        if want_header is not None and header != want_header:
            problems.append(f"{report}: header differs from the recorded one")
        if header[-4:] != ["Region", "Woreda", "Facility", "HMISCode"]:
            problems.append(f"{report}: header does not end with the facility columns")
        bad = sum(1 for r in rows if tuple(r[-4:]) != identity)
        if bad:
            problems.append(f"{report}: {bad} rows lack the facility identity {identity}")
    recorded = expected.get("seeds", {}).get(str(seed))
    if recorded is not None:
        for report in sorted(set(recorded) | set(digests)):
            want = recorded.get(report, {"rows": 0, "sha256": None})
            got = digests.get(report, {"rows": 0, "sha256": None})
            if want != got:
                problems.append(f"{report}: {got} != recorded {want}")
    sizes = {
        "rows": rows_total,
        "csv_bytes": bytes_total,
        "zip_bytes": inner_size,
        "digests": digests,
        "headers": headers,
    }
    return problems, sizes


# ----------------------------------------------------------------- graph


def _index(src, dst):
    import numpy as np

    nodes = np.unique(np.concatenate([src, dst]))
    return nodes, np.searchsorted(nodes, src), np.searchsorted(nodes, dst)


def union_find_components(src, dst) -> dict[int, int]:
    """node → smallest node id in its undirected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as root, so the root is the label
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pagerank_replay(src, dst, rounds: int, seeds=None):
    """Power iteration with the program's documented semantics: rank
    splits evenly over out-edges (parallel edges count), dangling mass
    and teleport go uniformly to all nodes, or to ``seeds`` when given."""
    import numpy as np

    # personalized: off-graph seeds are nodes too, holding teleport mass
    extra = [] if seeds is None else [np.asarray(seeds, dtype=src.dtype)]
    nodes = np.unique(np.concatenate([src, dst, *extra]))
    s, d = np.searchsorted(nodes, src), np.searchsorted(nodes, dst)
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n).astype(float)
    w = 1.0 / outdeg[s]
    if seeds is None:
        tele = np.full(n, 1.0 / n)
    else:
        tele = np.zeros(n)
        uniq = np.unique(seeds)
        tele[np.searchsorted(nodes, uniq)] = 1.0 / len(uniq)
    r = tele.copy()
    for _ in range(rounds):
        contrib = np.bincount(d, weights=r[s] * w, minlength=n)
        dm = 1.0 - contrib.sum()
        r = (1.0 - DAMPING) * tele + DAMPING * (contrib + dm * tele)
    return nodes, r


def hits_replay(src, dst, rounds: int):
    """HITS over distinct edges, L1-normalizing each half-step."""
    import numpy as np

    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    nodes, s, d = _index(pairs[:, 0], pairs[:, 1])
    n = len(nodes)
    h = np.full(n, 1.0 / n)
    for _ in range(rounds):
        a = np.bincount(d, weights=h[s], minlength=n)
        a = a / (a.sum() or 1.0)
        h = np.bincount(s, weights=a[d], minlength=n)
        h = h / (h.sum() or 1.0)
    return nodes, h, a


def _compare(name, got_nodes, got, want_nodes, want) -> list[str]:
    import numpy as np

    order = np.argsort(got_nodes)
    if not np.array_equal(got_nodes[order], want_nodes):
        return [f"{name}: node set differs ({len(got_nodes)} vs {len(want_nodes)})"]
    got = got[order]
    if not np.allclose(got, want, rtol=RTOL, atol=ATOL):
        worst = float(np.max(np.abs(got - want)))
        return [f"{name}: max abs error {worst:.3e} beyond rtol={RTOL} atol={ATOL}"]
    return []


def check_graph(unit: dict, edges_path: str, sources: list[int], rounds: int) -> list[str]:
    import numpy as np
    import pyarrow.parquet as pq

    problems = [f"graph op failed: {op}" for op in unit["failed"]]
    edges = pq.read_table(edges_path)
    src = edges["src"].to_numpy()
    dst = edges["dst"].to_numpy()

    def out(op):
        path = os.path.join(unit["out"], f"{op}.parquet")
        return pq.read_table(path).to_pandas() if os.path.exists(path) else None

    pr = out("pagerank")
    if pr is not None:
        nodes, want = pagerank_replay(src, dst, rounds)
        problems += _compare("pagerank", pr["node"].to_numpy(), pr["rank"].to_numpy(), nodes, want)
    ppr = out("ppr")
    if ppr is not None:
        nodes, want = pagerank_replay(src, dst, rounds, seeds=sources)
        problems += _compare("ppr", ppr["node"].to_numpy(), ppr["rank"].to_numpy(), nodes, want)
    hits = out("hits")
    if hits is not None:
        nodes, hub, auth = hits_replay(src, dst, rounds)
        got = hits["node"].to_numpy()
        problems += _compare("hits.hub", got, hits["hub"].to_numpy(), nodes, hub)
        problems += _compare("hits.authority", got, hits["authority"].to_numpy(), nodes, auth)
    cc = out("cc")
    if cc is not None:
        want = union_find_components(src, dst)
        got = dict(zip(cc["node"].tolist(), cc["component_id"].tolist()))
        if got != want:
            wrong = sum(1 for k, v in want.items() if got.get(k) != v)
            problems.append(f"cc: {wrong} of {len(want)} labels differ from union-find")
    return problems

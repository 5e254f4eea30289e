"""Grep inventory of interpreted higher-order-function call sites.

Higher-order lambdas (``F.filter``/``F.exists``/``F.aggregate``/
``F.forall``) evaluate INTERPRETED, outside whole-stage codegen — the
engine's rule is that none may sit on a data-sized axis of a hot path
(round 6/7 retired exactly that class from the tokenizers, the Arrow
scoring twins, and this round from the gopher flags and the span
cut). The sites that remain are each justified — bounded,
metadata-sized arrays or deliberately-retained oracle baselines — and
PINNED here per file: adding a new ``F.filter``/``exists``/
``aggregate``/``forall`` call anywhere in the package fails this test
until the site is justified (comment at the site + COVERAGE.md "HOF
inventory" section) and the count below is updated.

``F.transform``/``F.zip_with`` are NOT inventoried: they appear under
the same justified sites (probe lists over ≤ n_centroids literals,
per-subspace PQ slices) and as structural array builders; the
per-element *predicate/fold* forms above are the ones that have bitten
at depth.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "bohemia_kenya_data_pipeline_spark"

_HOF = re.compile(r"F\.(filter|exists|aggregate|forall)\(")

#: file (relative to the package) -> (expected call-site count, why the
#: sites are allowed). Justifications also live as comments at each
#: site and in COVERAGE.md §"HOF inventory".
ALLOWED = {
    "queries.py": (
        3,
        "array_hof_pack — the deliberate oracle FOR the HOF expressions "
        "themselves (whitelisted by VERDICT r7 ask 3)",
    ),
    "operators/stats.py": (
        1,
        "quantile-cut search: filter over the broadcast cut array, "
        "<= n_buckets-1 elements (default 9), never data-sized",
    ),
    "operators/dedup.py": (
        1,
        "span cut: O(#spans-per-doc) fold whose steps are native "
        "slice/concat kernels (r8 rewrite retired the per-token filter)",
    ),
    "operators/spatial.py": (
        4,
        "polygon-literal folds: bbox prune + ray-cast/segment-distance "
        "over tens of study clusters, post-prune ~1 candidate; bucketed "
        "variants own the many-polygon regime",
    ),
    "operators/similarity.py": (
        6,
        "dot/norm/_nearest_cid/L2/int-dot folds: the expression-fold "
        "scoring plans deliberately KEPT as oracle baselines (labeled "
        "in bench.py); production paths are the Arrow twins and the "
        "Arrow IVF kernels that assign_centroids picks above the C×D "
        "threshold",
    ),
}


def _sites(path: Path) -> int:
    n = 0
    for line in path.read_text().splitlines():
        stripped = line.strip()
        if stripped.startswith("#"):
            continue
        n += len(_HOF.findall(line))
    return n


def test_no_new_interpreted_hof_sites():
    found: dict[str, int] = {}
    for p in sorted(PKG.rglob("*.py")):
        n = _sites(p)
        if n:
            found[str(p.relative_to(PKG))] = n
    expected = {k: v[0] for k, v in ALLOWED.items()}
    assert found == expected, (
        "interpreted-HOF inventory drifted.\n"
        f"  found:    {found}\n"
        f"  expected: {expected}\n"
        "New site? Replace it with a native expression, or justify it "
        "(bounded-array comment at the site + COVERAGE.md 'HOF "
        "inventory') and update ALLOWED."
    )

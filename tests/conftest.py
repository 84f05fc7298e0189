from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vat_etl_spark.session import get_spark, release_engine_caches  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # tools/partest.py runs test files in N concurrent pytest processes;
    # each worker gets an isolated warehouse (bucketed-table tests) and
    # ANN index dir via its slot id so parallel sessions never collide
    slot = os.environ.get("SPARK_GRAFT_TEST_SLOT")
    extra = (
        {"spark.sql.warehouse.dir": f"/tmp/vat_etl_test_wh_{slot}"}
        if slot
        else None
    )
    return get_spark("pytest", shuffle_partitions=8, extra_conf=extra)


@pytest.fixture(autouse=True)
def _release_caches_after_test(request):
    """Each test that uses ``spark`` is one run: the caches its queries
    persisted are released when it ends, so no test reads a cache that an
    earlier test built."""
    uses = "spark" in request.fixturenames
    spark = request.getfixturevalue("spark") if uses else None
    yield
    if spark is not None:
        release_engine_caches(spark)


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


# --- shared pure-Python BPE reference (used by three parity tests) ------------
# One copy of the convention (leftmost-first fusion, (-count, pair)
# tie-break) so the tests cannot drift apart.


def py_bpe_merge(lst, a, b):
    out = []
    for x in lst:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def train_ref_bpe(texts, n_merges=5):
    """Returns (merges [(rank, a, b, count)], final syms {word: [sym]},
    vocab Counter) trained exactly like text_bpe_merges."""
    import collections
    import re

    vocab = collections.Counter(
        w for t in texts for w in re.split(r"\s+", t.strip()) if w
    )
    syms = {w: [c for c in w] for w in vocab}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = collections.Counter()
        for w, lst in syms.items():
            for i in range(len(lst) - 1):
                counts[(lst[i], lst[i + 1])] += vocab[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, c))
        syms = {w: py_bpe_merge(lst, a, b) for w, lst in syms.items()}
    return merges, syms, vocab

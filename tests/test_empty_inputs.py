"""Empty-input degradation: operators must return empty output (or a
defined scalar), never throw, when every table has zero rows — the
production shape of a filter matching nothing, a brand-new source, or
an empty ingest day.  The full 131-gate empty sweep lives in
`python tools/edge_data.py --empty && python tools/check_gate.py
/tmp/cantera_empty`; this module keeps an in-suite regression net over
one representative gate per family plus the three gates whose
empty-input failures the sweep's first run caught (FIXTURES.md):
sim06's schema-inference read of an empty IVF index, q20's assumption
of the envelope dict over the reference's bare-[] form
(query.cc:796-799), and ev07's ANSI-vs-Spark rollup grand-total
divergence.
"""

import pytest

import cantera_table_spark.gate as gate
from cantera_table_spark.session import cache_scope
from tools.edge_data import write_empty

# one per family + the three first-run catches; the four instances
# costing >=10s each carry the slow mark (fast tier keeps the other
# eight as the in-suite net; the full tier and the 131-gate sweep
# still cover everything)
REPRESENTATIVES = [
    "q01_and",                  # DSL query + envelope
    "q20_threshold_headers",    # envelope bare-[] form (fixed)
    "ev07_rollup_day",          # rollup grand-total divergence (fixed)
    pytest.param("sim06_ivf_partitioned",   # empty-index schema pin
                 marks=pytest.mark.slow),
    pytest.param("dd14_incremental_dedup",  # dedup stack
                 marks=pytest.mark.slow),
    pytest.param("sim02_ivf_topk",          # ANN stack
                 marks=pytest.mark.slow),
    "tx08_repetition",          # text stack
    "ts09_asof_join",           # time-series joins
    "ds03_pack_sequences",      # Arrow applyInPandas packing
    "mm01_decode_media",        # multimodal mapInPandas codecs
    "corr01_feature_mining",    # CORRELATE pipeline
    pytest.param("in01_tsv_postings",       # ingest path
                 marks=pytest.mark.slow),
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    write_empty(out)
    return out


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_gate_degrades_to_empty(spark, empty_dir, name):
    with cache_scope():
        assert gate.queries()[name](spark, empty_dir).count() == 0

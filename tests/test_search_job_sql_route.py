"""jobs/search.py's tests on the probe's SQL route: the tests of
test_search_job.py, run with verify.MAX_PROBE_INDEX_ROWS below every
library, so prepare_library keeps the bucket table and verify's library
side as DataFrames instead of broadcasting a LibraryIndex."""

from __future__ import annotations

import pytest

from consult_spark.operators import verify
from tests.test_search_job import (  # noqa: F401  (collected here too)
    split_corpus,
    test_build_and_search,
    test_search_adopts_stored_config,
    test_search_pcm_only_index_skips_lcs,
    test_search_rejects_mismatched_config,
    test_search_returns_the_frames_it_persisted,
)


@pytest.fixture(autouse=True)
def sql_route(monkeypatch):
    monkeypatch.setattr(verify, "MAX_PROBE_INDEX_ROWS", -1)

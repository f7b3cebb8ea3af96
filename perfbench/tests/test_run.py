"""The traced run's comparison with the untraced one."""

import json

import run


def test_untraced_p50_is_used_only_for_the_same_seed_and_code(tmp_path,
                                                              capsys):
    path = tmp_path / "untraced_search.json"
    assert run.load_untraced(str(path), 1, "abc") is None
    path.write_text(json.dumps(
        {"op_p50_s": 0.4, "seed": 1, "source_sha256": "abc"}))
    assert run.load_untraced(str(path), 1, "abc") == 0.4
    assert run.load_untraced(str(path), 2, "abc") is None
    assert run.load_untraced(str(path), 1, "def") is None
    err = capsys.readouterr().err
    assert "seed 1" in err and "other code" in err


def test_source_digest_is_stable():
    assert run.source_digest() == run.source_digest()

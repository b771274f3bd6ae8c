"""Registry-level smoke for the optional-dependency gates (verdict r5
item 5): the pillow-gated multimodal queries must REGISTER AND RUN when
the dep is present, and must NOT register when it is absent — so the
conditional registration can't rot in either direction.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"
PIL_GATED = ("q_multimodal_jpeg", "q_multimodal_mjpeg_mp4")


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def test_pillow_gate_absent_side():
    """Without pillow, the gated names must not appear in the registry
    (the grading window must never see an entry the container can't
    run)."""
    if _has_pil():
        pytest.skip("pillow present: registration side covered below")
    qs, oracles = _registry()
    for name in PIL_GATED:
        assert name not in qs
        assert name not in oracles


def test_pillow_gate_present_side(spark):
    """With pillow, both gated queries must register with oracles AND
    actually run green at sf0.001 (every gate boolean true)."""
    if not _has_pil():
        pytest.skip("pillow absent: absence side covered above")
    qs, oracles = _registry()
    for name in PIL_GATED:
        assert name in qs, f"{name} failed to register despite pillow"
        assert name in oracles, f"{name} registered without an oracle"
        rows = qs[name](spark, SF_DIR).collect()
        assert rows, f"{name} returned no rows"
        for row in rows:
            d = row.asDict()
            for col, val in d.items():
                if col.endswith("_ok"):
                    assert val is True, f"{name}: {col} false in {d}"

"""Session factory switches that must not start a session to test."""

from mcpvectordb_spark.session import ui_enabled


def test_spark_ui_switch_is_on_only_for_1_or_true():
    assert not ui_enabled({})
    for off in ("0", "", "false", "no", " 0 "):
        assert not ui_enabled({"SPARK_GRAFT_UI": off}), off
    for on in ("1", "true", "TRUE", " True "):
        assert ui_enabled({"SPARK_GRAFT_UI": on}), on

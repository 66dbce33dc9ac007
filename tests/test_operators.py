"""Transcript-shaping operators (operators/conversations.py)."""


def test_conversation_documents_and_sft_pairs(spark):
    from ex_elasticlunr_spark.operators.conversations import (
        conversation_documents,
        sft_pairs,
    )

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi"),
         ("c1", 1, "assistant", "hello"),
         ("c1", 2, "user", "how"),
         ("c1", 3, "assistant", "fine"),
         ("c2", 0, "assistant", "opening")],
        "conv_id string, turn_idx int, role string, text string")

    docs = {r["conv_id"]: r for r in conversation_documents(turns).collect()}
    assert docs["c1"]["n_turns"] == 4
    assert docs["c1"]["doc"] == "user: hi\nassistant: hello\nuser: how\nassistant: fine"
    assert docs["c2"]["doc"] == "assistant: opening"

    pairs = {(r["conv_id"], r["turn_idx"]): r
             for r in sft_pairs(turns).collect()}
    assert set(pairs) == {("c1", 1), ("c1", 3), ("c2", 0)}
    assert pairs[("c1", 1)]["prompt"] == "user: hi"
    assert pairs[("c1", 1)]["completion"] == "hello"
    assert pairs[("c1", 3)]["prompt"] == \
        "user: hi\nassistant: hello\nuser: how"
    # conversation-opening assistant turn: empty prompt survives
    assert pairs[("c2", 0)]["prompt"] == ""

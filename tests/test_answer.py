"""U6 answer generation over the retrieval output."""

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.answer import answer_question, format_context
from knowledgegraphbuilder_spark.operators.retrieval import index_edges, retrieve_documents
from knowledgegraphbuilder_spark.plans.checkpoint import run_pipeline


def test_answer_question_end_to_end(spark, corpus_df):
    kg = run_pipeline(corpus_df, KGConfig())
    idx = index_edges(kg.edges)
    ranked = retrieve_documents(kg.edges, kg.membership, idx, "spark customer", KGConfig())
    ans = answer_question(ranked, kg.documents, "what uses spark?")
    assert "<think>" not in ans and "</think>" not in ans
    assert "5 retrieved passages" in ans
    assert ans == answer_question(ranked, kg.documents, "what uses spark?")


def test_format_context_shape():
    ctx = format_context(["aaa", "bbb"])
    assert ctx == "[Text 1] aaa\n\n[Text 2] bbb"

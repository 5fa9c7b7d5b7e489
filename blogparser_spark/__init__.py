"""blogparser_spark — a PySpark-native parse→enrich→route→aggregate pipeline.

A from-scratch re-expression of the capabilities of yamadatt/blogparser (a
Go per-document extractor) as a distributed log pipeline over tables of
multi-turn conversation transcripts:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

The reference's per-document extraction DAG (title/date/categories/tags/body/
summary/images — see parser/parser.go:64-154) becomes:

  parse      one Arrow-vectorized pandas UDF applying the priority-ordered
             regex banks and the clean/validate/summarize rules per row,
             fail-fast; only the date parse stays native-Column code
  enrich     two literal-map lookups (tool→category, role→channel; the
             analog of posWeights, parser/summary.go:23-30): no join
  route      commit each slice to ONE snapshot-log table as a few files
             sorted by the sink keys (channel, tool_category, parse_status),
             each file's manifest entry listing the sinks it holds
  aggregate  per-sink counts, per-conv turn stats (windows ordered by
             (conv_id, turn_idx)), summary-length histograms

`job.py` runs the whole flow sliced and resumable. Everything is
DataFrame → DataFrame; no RDDs; no per-row Python UDFs.
"""

__version__ = "0.1.0"

from logparser_spark.sources.transcripts import transcripts_df, transcripts_pdf
from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df, LKP_ROLE_ROWS, LKP_TOOL_ROWS

__all__ = [
    "transcripts_df",
    "transcripts_pdf",
    "lkp_role_df",
    "lkp_tool_df",
    "LKP_ROLE_ROWS",
    "LKP_TOOL_ROWS",
]

"""seqtables_spark: a PySpark-native analytics engine with the query
and data-processing capabilities of cchrysostomou/seqtables, built
Spark-first (DataFrame/SQL + Catalyst; pandas UDFs only for the CIGAR
realignment kernel and binomial tails), extended with the
large-corpus pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing).
"""

from .session import get_spark
from .model import SeqTable, explode_chars
from .constructors import from_list, from_df, from_sam_df, guess_seqtype

__version__ = "0.1.0"

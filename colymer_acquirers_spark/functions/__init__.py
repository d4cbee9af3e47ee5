from colymer_acquirers_spark.functions.canonical import (  # noqa: F401
    canonicalize_url,
    canonicalize_url_series,
    host_of,
    host_of_series,
)
from colymer_acquirers_spark.functions.parse import (  # noqa: F401
    extract_links_one,
    extract_text_series,
)

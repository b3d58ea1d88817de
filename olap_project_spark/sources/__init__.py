"""Input sources: the exchange-rate dimension (``rates``) and the POS
simulator data source (``pos_datasource``)."""
